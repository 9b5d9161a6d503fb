"""Structured Streaming surface (SURVEY.md section 2.10 notes the
reference is pure batch; README.md:151 lists real-time decision
support as future work).

- dedup_events: exact event dedup within a watermark horizon; its
  batch dual is the benched q_stream_dedup_dual.
- read_event_stream / run_to_memory: file-source reader and
  memory-sink driver for the streaming tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
import os
import shutil

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),  # kept string-agnostic for sinks
    ]
)


def read_event_stream(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """File-source stream: each new parquet file in `path` is a
    micro-batch. At scale the same operators run off Kafka — only
    this reader changes."""
    return (
        spark.readStream.format("parquet")
        .schema(schema or EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def dedup_events(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop repeated ``keys`` within the
    watermark horizon (dropDuplicatesWithinWatermark — state is
    bounded by the watermark, unlike plain dropDuplicates whose state
    grows forever on an unbounded stream): at-least-once sources
    (Kafka redeliveries, replayed files) become effectively-once
    event feeds.

    Unified: on a batch DataFrame the bounded-state machinery is
    meaningless (Spark rejects dropDuplicatesWithinWatermark outside
    streaming), so the same call degrades to plain key-dedup — the
    value-checked batch dual is q_stream_dedup_dual."""
    if not stream.isStreaming:
        return stream.dropDuplicates(keys or ["event_id"])
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def run_to_memory(result: DataFrame, name: str):
    """Drive a streaming DataFrame to completion against the memory
    sink (test/drive helper): returns the started query; caller does
    `q.processAllAvailable()` then reads `spark.sql(f"SELECT * FROM
    {name}")`."""
    return (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )


#: synopsis partition value the roll-up compaction merges history
#: into; real batch ids from the streaming engine are >= 0
PREAGG_BASE_BATCH = -1


def preagg_apply_batch(
    batch: DataFrame,
    synopsis_path: str,
    batch_id: int,
    group_col: str = "admission_id",
    concept_col: str = "clinical_concept_id",
    source_col: str = "event_source_type",
) -> None:
    """One micro-batch of EXACTLY-ONCE incremental pre-aggregate
    maintenance for the reference's BI roll-up (DWH.sql:203-210
    aggregates events per admission; this maintains that table as
    events stream in, instead of recomputing it from the full fact).

    The state is a SYNOPSIS, not the final aggregate: per
    (group, concept, source) partial counts, partitioned by the
    engine's batch_id. Two properties fall out:
    - MERGEABLE: total_events is a sum over partials, and the
      distinct counts are distincts over synopsis KEYS — so the
      derived aggregate (read_preagg) is exact across any number of
      batches, including re-observed groups, which a stored FINAL
      aggregate could never repair for COUNT(DISTINCT).
    - EXACTLY-ONCE: the batch's contribution lands via DYNAMIC
      partition overwrite of ITS OWN batch_id partition — a replayed
      batch (same epoch id, the engine's contract) overwrites the
      identical partition with identical content, so replay after
      ANY crash point is a no-op, with no index, no anti-join, and
      no transactional store.

    Scale shape: one groupBy of the batch (batch-proportional), one
    partition-directory write. Synopsis size is bounded by touched
    keys per batch; compact_preagg rolls history into one base
    partition so the read side never scans unbounded batch counts."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    # the synopsis is compact_preagg's rename-swap target — restore
    # any interrupted publish before overwriting a partition in it
    recover_compacted_dir(synopsis_path)
    contrib = (
        batch.groupBy(group_col, concept_col, source_col)
        .agg(F.count("*").alias("n"))
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            synopsis_path
        )
    finally:
        spark.conf.set(key, before)


def read_preagg(
    spark: SparkSession,
    synopsis_path: str,
    group_col: str = "admission_id",
    concept_col: str = "clinical_concept_id",
    source_col: str = "event_source_type",
) -> DataFrame:
    """Derive the final BI aggregate from the synopsis: sum of
    partial counts + distinct-over-keys (collect_set, never the
    multi-countDistinct Expand). The synopsis is orders of magnitude
    smaller than the event stream it summarizes, so this read is
    cheap; run compact_preagg periodically to keep it so."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(synopsis_path)
    syn = spark.read.parquet(synopsis_path)
    return syn.groupBy(group_col).agg(
        F.sum("n").alias("total_events"),
        F.size(F.collect_set(concept_col)).alias("unique_concepts"),
        F.size(F.collect_set(source_col)).alias("different_sources"),
    )


def compact_preagg(
    spark: SparkSession,
    synopsis_path: str,
    group_col: str = "admission_id",
    concept_col: str = "clinical_concept_id",
    source_col: str = "event_source_type",
) -> dict:
    """Roll the synopsis's batch partitions into ONE base partition
    (batch_id={PREAGG_BASE_BATCH}), summing partials per key — the
    maintenance op that bounds read_preagg's scan by the KEY space
    instead of the batch count. Crash-safe via the shared compaction
    publish protocol (io.recover_compacted_dir sibling names). Run
    between micro-batches, after their offsets commit — the same
    single-writer window every sink maintenance here assumes; a
    batch replayed AFTER its partition was compacted would
    double-count, and committed offsets are what rule that out."""
    import glob

    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    from clinical_data_warehouse_bi_spark.io import maintenance_lock

    recover_compacted_dir(synopsis_path)
    with maintenance_lock(synopsis_path):
        syn = spark.read.parquet(synopsis_path)
        rolled = (
            syn.groupBy(group_col, concept_col, source_col)
            .agg(F.sum("n").alias("n"))
            .withColumn("batch_id", F.lit(PREAGG_BASE_BATCH).cast("long"))
            .localCheckpoint()
        )
        rows = rolled.count()
        tmp = f"{synopsis_path}.tmp-compact"
        old = f"{synopsis_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(synopsis_path, old)
        os.rename(tmp, synopsis_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(
            glob.glob(os.path.join(synopsis_path, "batch_id=*"))
        ),
    }


def census_apply_batch(
    batch: DataFrame,
    synopsis_path: str,
    batch_id: int,
    unit_col: str = "careunit_id",
    patient_col: str = "patient_id",
    in_col: str = "intime",
    out_col: str = "outtime",
    max_days: int = 365,
) -> None:
    """One micro-batch of EXACTLY-ONCE daily-census maintenance —
    the streaming twin of kpi.daily_census (transfers stream in,
    the bed-occupancy report stays current).

    Distinct-patient census is NOT additive across batches (the
    same patient-day can arrive in two batches via overlapping or
    corrected stays), so the synopsis stores the DISTINCT
    (unit, day, patient) triples each batch contributes and the
    read side counts distinct over synopsis KEYS — the
    read_preagg/collect_set design note: a stored FINAL census
    could never repair a re-observed patient-day; the key synopsis
    always can.

    Batch work: the same guarded map-side interval-to-day explode
    as the batch operator (max_days fences sentinel/open intervals
    — kpi.daily_census's ~400k-rows-per-bad-row trap) + ONE
    distinct on the slim triple. Exactly-once via the batch_id
    dynamic-partition overwrite contract."""
    from clinical_data_warehouse_bi_spark import kpi as _kpi
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    recover_compacted_dir(synopsis_path)
    tin = _kpi._desentinel(in_col)
    tout = _kpi._desentinel(out_col)
    if max_days <= 0:
        raise ValueError("max_days must be positive")
    bounded = (
        batch.withColumn("__in", F.to_date(tin))
        .withColumn("__out", F.to_date(tout))
        .filter(
            F.col("__in").isNotNull()
            & F.col("__out").isNotNull()
            & (F.col("__out") >= F.col("__in"))
            & (F.datediff("__out", "__in") <= F.lit(int(max_days)))
        )
    )
    contrib = (
        bounded.select(
            F.col(unit_col).alias("unit"),
            F.col(patient_col).alias("patient"),
            F.explode(F.sequence("__in", "__out")).alias("census_date"),
        )
        .distinct()
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            synopsis_path
        )
    finally:
        spark.conf.set(mode_key, before)


def read_census(spark: SparkSession, synopsis_path: str) -> DataFrame:
    """Derive the current daily census from the synopsis: distinct
    patients per (unit, day) over synopsis keys — exact across any
    number of batches including re-observed patient-days. Matches
    kpi.daily_census's census column on the union of all batches
    (the batch==stream dual the tests pin); stay_rows is a
    per-batch-arrival notion and deliberately not derived here."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(synopsis_path)
    syn = spark.read.parquet(synopsis_path)
    return syn.groupBy("unit", "census_date").agg(
        F.countDistinct("patient").alias("census")
    )


def compact_census(spark: SparkSession, synopsis_path: str) -> dict:
    """Roll the census synopsis into ONE base partition of distinct
    (unit, day, patient) triples — LOSSLESS (distinct-over-keys has
    nothing to lose); the shared crash-safe swap protocol."""
    import glob

    from clinical_data_warehouse_bi_spark.io import (
        maintenance_lock,
        recover_compacted_dir,
    )

    recover_compacted_dir(synopsis_path)
    with maintenance_lock(synopsis_path):
        syn = spark.read.parquet(synopsis_path)
        rolled = (
            syn.select("unit", "patient", "census_date")
            .distinct()
            .withColumn("batch_id", F.lit(PREAGG_BASE_BATCH).cast("long"))
            .localCheckpoint()
        )
        rows = rolled.count()
        tmp = f"{synopsis_path}.tmp-compact"
        old = f"{synopsis_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(synopsis_path, old)
        os.rename(tmp, synopsis_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(
            glob.glob(os.path.join(synopsis_path, "batch_id=*"))
        ),
    }
