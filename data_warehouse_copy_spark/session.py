"""SparkSession factory tuned for this engine.

Local-mode defaults sized for the test harness (local[N], single JVM), but
every setting is the one you'd also want on a 1000-executor cluster against
~100 TB: AQE on (runtime shuffle-partition coalescing + skew-join handling),
UTC session timezone (determinism + oracle comparison), Arrow transfers for
the Pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_warehouse_copy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    from data_warehouse_copy_spark.sources.managed_table import (
        _DISTRIBUTED_PLAN_MIN_FILES,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    # Local mode: shuffle width ~= cores. On a real cluster this would be
    # sized to total executor cores (AQE coalesces the excess anyway).
    shuffle = shuffle_partitions if shuffle_partitions is not None else cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # ManagedTable reads hand Spark the manifest's explicit file list.
        # Past 32 paths (Spark's default) Spark would list those files
        # again in a distributed job, one task per path, before every
        # scan. Below ManagedTable's own planning gate the driver lists
        # them; past it, reads already take the distributed plan.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(_DISTRIBUTED_PLAN_MIN_FILES),
        )
        # INT64 micros instead of legacy INT96: interoperable, and parquet
        # keeps min/max footer stats for it — ManagedTable's file-level
        # data skipping on timestamp columns depends on those stats.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # The driver fixtures carry TIMESTAMP(NANOS) columns (events.ts);
        # read them as epoch-nanos longs and restore in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # FAIR scheduling so parallel dim reloads (reference
        # BulkCopyManager.cs:182-195) share the cluster instead of FIFO-queueing.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
