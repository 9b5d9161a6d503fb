"""Event-stream operators: the deterministic stratified-sample filter
run unchanged on a Structured Stream (the events table split into
multiple parquet files, one micro-batch each), and
q_stream_dedup_dual's at-least-once dedup over a source that
redelivers every event. Both compare against batch ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import read_table


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 3 files -> 3 micro-batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(3).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def batch_events(spark, stream_dir):
    return spark.read.parquet(stream_dir).cache()


def test_dedup_events_drops_redelivered_rows(spark, stream_dir, tmp_path, batch_events):
    """Simulate an at-least-once source: the events table holds every
    event twice (two files), and q_stream_dedup_dual replays every
    10th event once more on top -> each event_id survives once."""
    from clinical_data_warehouse_bi_spark.queries.windows import q_stream_dedup_dual

    dup_sf = tmp_path / "dup_sf"
    events = str(dup_sf / "events.parquet")
    ev = spark.read.parquet(stream_dir)
    ev.coalesce(1).write.mode("overwrite").parquet(events)
    ev.coalesce(1).write.mode("append").parquet(events)

    out = q_stream_dedup_dual(spark, str(dup_sf))
    got = out.agg(
        F.count("*").alias("n"), F.countDistinct("event_id").alias("d")
    ).first()
    want = batch_events.count()
    assert got.n == want  # every duplicate dropped
    assert got.d == want  # every original kept


def test_stratified_sample_filter_is_stream_compatible(spark, stream_dir, batch_events):
    """The deterministic hash-threshold sample is a stateless per-row
    filter, so the SAME expression runs unchanged on a stream and
    selects exactly the batch-selected subset (unified API; and unlike
    rand()-based sampling, re-processing a micro-batch after failure
    re-selects the same rows — effectively-once semantics for free)."""
    from clinical_data_warehouse_bi_spark.queries.core import _SQL_RATE_CASE

    u = F.expr(
        "cast(conv(substr(md5(cast(event_id as string)), 1, 7), 16, 10) as bigint)"
    )
    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream.filter(u < F.expr(_SQL_RATE_CASE))
        .select("event_id", "event_type")
        .writeStream.format("memory")
        .queryName("sampled")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_id"] for r in spark.sql("SELECT * FROM sampled").collect()}
    want = {
        r["event_id"]
        for r in batch_events.filter(u < F.expr(_SQL_RATE_CASE)).collect()
    }
    assert got == want and len(got) > 0
