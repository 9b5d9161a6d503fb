"""Structured Streaming tests: drive streams over the events table
split into multiple parquet files (one micro-batch each) and
compare against batch ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import streaming
from clinical_data_warehouse_bi_spark.io import read_table


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 3 files -> 3 micro-batches (ts in micros,
    value as string to match EVENT_SCHEMA)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", F.col("value").cast("string")
    )
    ev.repartition(3).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def batch_events(spark, stream_dir):
    return spark.read.parquet(stream_dir).cache()


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_dedup_events_drops_redelivered_rows(spark, stream_dir, tmp_path, batch_events):
    """Simulate an at-least-once source: write the same events twice
    (two files), stream with dedup -> each event_id survives once."""
    dup_dir = str(tmp_path / "dup_events")
    ev = spark.read.parquet(stream_dir)
    ev.coalesce(1).write.mode("overwrite").parquet(dup_dir)
    ev.coalesce(1).write.mode("append").parquet(dup_dir)

    stream = streaming.read_event_stream(spark, dup_dir)
    q = streaming.run_to_memory(
        streaming.dedup_events(stream, watermark="60 days"), "dedup_out"
    )
    _drain(q)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
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
    stream = streaming.read_event_stream(spark, stream_dir)
    q = streaming.run_to_memory(
        stream.filter(u < F.expr(_SQL_RATE_CASE)).select("event_id", "event_type"),
        "sampled",
    )
    _drain(q)
    got = {r["event_id"] for r in spark.sql("SELECT * FROM sampled").collect()}
    want = {
        r["event_id"]
        for r in batch_events.filter(u < F.expr(_SQL_RATE_CASE)).collect()
    }
    assert got == want and len(got) > 0

