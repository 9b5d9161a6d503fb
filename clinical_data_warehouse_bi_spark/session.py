"""SparkSession factory.

Local-mode defaults tuned for the driver's harness (local[32], single
JVM) but every setting is the one you'd also want on a real cluster:
AQE on (runtime coalescing + skew-join splitting), UTC session
timezone (parity with the DuckDB oracle, whose timestamps are
UTC-naive), Arrow for any pandas exchange, and shuffle partitions
sized to cores instead of the 200 default.

At 100 TB the same code runs unchanged; only master/memory/shuffle
partitions move to spark-submit conf (shuffle partitions ~2-3x total
cores, or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the package, whatever the working directory
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "clinical-dwh-bi-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from a daemon that has the Arrow stack
        # imported and skips re-reading unchanged zip archives per task
        # (daemon.py)
        .config("spark.python.daemon.module", "clinical_data_warehouse_bi_spark.daemon")
        # the daemon and the library's Arrow functions import the
        # package in the workers: Spark merges this into their
        # PYTHONPATH, so a script run from any directory finds it
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark 4 rejects unless read as raw long (io.read_table
        # converts back to a microsecond timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark still defaults timestamp writes to legacy INT96, which
        # carries NO parquet min/max statistics — every timestamp
        # range probe on written parquet would read every row group.
        # INT64 micros restores footer pruning and is the modern
        # interoperable encoding.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
