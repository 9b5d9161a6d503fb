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

Case mapping goes through the JVM, not ICU
(``spark.sql.icu.caseMappings.enabled=false``, a runtime SQL conf).
Under ICU, a JVM's first ``lower()`` runs
``CollationAwareUTF8String``'s static init, which builds a title-case
lookup table by title-casing every code point; only ``initcap`` reads
it, and the engine never calls ``initcap``. Every other task that
needs ``lower()`` blocks on the class-init lock meanwhile. In the star
pipeline that lands on ``build_staging``'s concept-dim keyword filter:
at 600 patients on 4 vCPUs, that job took 2.98 s of wall time (9.8 s
of task time for 9 tasks over 19 rows) under ICU and 0.56 s without
it. The two mappings differ only on non-ASCII letters: case pairs
newer than the JDK's Unicode version, and the final-sigma rule next to
case-ignorable or uncased characters. Neither can change an
``[a-z0-9]+`` token or an ASCII keyword match, so only
``normalized_key`` joins and outputs that return ``lower()`` /
``upper()`` text can see it, and only on those characters. Both follow
the JVM's default locale. A plain session (the driver's own) keeps
ICU; its outputs are the same on the driver data (all ASCII), and it
pays the init once per JVM.

The driver JVM's young generation is capped at 512 MB
(``-XX:MaxNewSize``, through ``spark.driver.defaultJavaOptions``, so it
applies only when this factory starts the JVM). Pauses over a small
live set are short, so G1 keeps growing eden toward 60% of the heap,
by steps that depend on measured pause times, and every page eden
reaches stays resident. In ``star_etl`` (600 patients, fixed 3 GB
heap, 4 vCPUs), the largest eden target of a run ranged from 1.07 to
1.60 GB over five runs, while at most 330 MB of heap was left after
any young collection, and peak RSS spread from 2.40 to 2.96 GB. With
the cap it was 1.71-1.78 GB over six runs. Before the ICU setting the
same spread was hidden: the ICU table's garbage filled the whole heap
in every run.
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
        # lower()/upper() map case through the JVM's String methods,
        # not ICU: the ICU path's first call in a JVM builds a title-case
        # table (for initcap, which the engine never calls) while every
        # other task using lower() waits on it (module docstring)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # cap G1's young generation at 512 MB: a JVM this factory starts
        # keeps a small live set, so its pauses stay short and G1 grows
        # eden toward 60% of the heap at a pace set by pause timing.
        # Resident memory then follows that timing instead of the data
        # (module docstring). Prepended to any spark.driver.extraJavaOptions.
        .config("spark.driver.defaultJavaOptions", "-XX:MaxNewSize=512m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
