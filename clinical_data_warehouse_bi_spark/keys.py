"""Surrogate keys (SURVEY.md section 2.5, W1/W2).

The reference uses `ROW_NUMBER() OVER ()` (Stage_area.sql:58) and
MariaDB AUTO_INCREMENT (Stage_area.sql:77,154,263; DWH.sql:99). Spark
has no auto-increment. A global `F.row_number().over(Window.orderBy(...))`
is exact and deterministic but collapses to ONE partition, so callers
write it inline only over bounded relations (the star junk dim,
q_join_nullsafe_junk, q_surrogate_key).

``zip_index_key`` is the distributed form: contiguous dense keys from
per-partition counts + an offset cumsum, one extra tiny job. The
offsets come back as a JVM local relation (``io.local_frame``), so
plans that scan the keyed relation run no job for them. Use it when
downstream genuinely needs dense keys at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import local_frame


def zip_index_key(df: DataFrame, name: str = "surrogate_id") -> DataFrame:
    """Dense 1..N key without a global sort OR a full-data shuffle.

    Construction: `monotonically_increasing_id()` is consecutive
    within a partition, so the in-partition row index is
    `miid - min(miid)` of that partition. One tiny aggregation job
    collects per-partition (count, min(miid)); a cumulative offset per
    partition is then broadcast-joined back and the dense key is pure
    per-row arithmetic — no window, no exchange of the data itself.
    The offsets are a local relation built on the driver
    (``io.local_frame``): the broadcast's build side is a
    ``LocalTableScan`` with no job, so every later plan over the keyed
    relation scans only its checkpoint. (A ``createDataFrame`` list
    would be a Python RDD, re-run in Python workers by each such
    plan.)

    The input is materialized first (localCheckpoint) so the stats job
    and the key job see identical partition contents: recomputed
    lineage (e.g. downstream of a round-robin repartition, or a task
    retry) is not guaranteed to replay the same rows into the same
    partitions. This is the same determinism barrier RDD.zipWithIndex
    needs, and it doubles as the staging-layer materialization the
    reference's CTAS boundaries imply."""
    spark = df.sparkSession
    with_idx = (
        df.withColumn("__miid", F.monotonically_increasing_id())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    stats = sorted(
        (r["__pid"], r["cnt"], r["lo"])
        for r in with_idx.groupBy("__pid")
        .agg(F.count("*").alias("cnt"), F.min("__miid").alias("lo"))
        .collect()
    )
    rows, acc = [], 0
    for pid, cnt, lo in stats:
        rows.append((pid, lo, acc))
        acc += cnt
    off = local_frame(spark, rows, "__pid int, __lo long, __offset long")
    return (
        with_idx.join(F.broadcast(off), "__pid", "left")
        .withColumn(
            name,
            (F.col("__miid") - F.col("__lo") + F.col("__offset") + F.lit(1)).cast("long"),
        )
        .drop("__pid", "__miid", "__lo", "__offset")
    )
