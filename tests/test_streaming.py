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


def test_salted_join_works_on_streams(spark, stream_dir):
    """salted_join's streaming fallback salt must not use
    monotonically_increasing_id (unsupported on streams) and must
    preserve join results."""
    from clinical_data_warehouse_bi_spark.joins import salted_join

    dim = spark.createDataFrame(
        [("click", "web"), ("purchase", "commerce")], ["etype", "category"]
    )
    stream = streaming.read_event_stream(spark, stream_dir)
    joined = salted_join(stream, dim, "event_type", "etype", buckets=4)
    q = streaming.run_to_memory(joined.select("event_id", "category"), "salted_out")
    _drain(q)
    got = spark.sql("SELECT count(*) AS n FROM salted_out").first()["n"]
    want = (
        spark.read.parquet(stream_dir)
        .filter(F.col("event_type").isin("click", "purchase"))
        .count()
    )
    assert got == want


def test_streaming_preagg_exactly_once_and_compaction(spark, tmp_path):
    """Incremental BI pre-aggregate maintenance: streamed synopsis ==
    full batch recompute; a replayed batch (same epoch id) is a
    no-op at ANY crash point (dynamic partition overwrite); roll-up
    compaction preserves the derived aggregate while bounding the
    partition count."""
    schema = (
        "admission_id long, clinical_concept_id long,"
        " event_source_type string"
    )
    rows = [
        # admission 1 seen in all three batches, concept 10 repeated
        [(1, 10, "Lab"), (1, 11, "Lab"), (2, 10, "Rx")],
        [(1, 10, "Vitals"), (2, 20, "Rx"), (3, 30, "Lab")],
        [(1, 12, "Lab"), (3, 30, "Lab"), (3, 31, "Rx")],
    ]
    syn = str(tmp_path / "synopsis")
    for bid, batch_rows in enumerate(rows):
        streaming.preagg_apply_batch(
            spark.createDataFrame(batch_rows, schema), syn, bid
        )
    got = {
        r.admission_id: (r.total_events, r.unique_concepts, r.different_sources)
        for r in streaming.read_preagg(spark, syn).collect()
    }
    flat = [t for b in rows for t in b]
    want = {}
    for adm in {t[0] for t in flat}:
        mine = [t for t in flat if t[0] == adm]
        want[adm] = (
            len(mine),
            len({t[1] for t in mine}),
            len({t[2] for t in mine}),
        )
    assert got == want

    # replay batch 1 verbatim (crash after write, before offset
    # commit): its partition is overwritten with identical content
    streaming.preagg_apply_batch(
        spark.createDataFrame(rows[1], schema), syn, 1
    )
    got2 = {
        r.admission_id: (r.total_events, r.unique_concepts, r.different_sources)
        for r in streaming.read_preagg(spark, syn).collect()
    }
    assert got2 == want

    # roll-up: one base partition, derived aggregate unchanged
    stats = streaming.compact_preagg(spark, syn)
    assert stats["partitions_after"] == 1
    got3 = {
        r.admission_id: (r.total_events, r.unique_concepts, r.different_sources)
        for r in streaming.read_preagg(spark, syn).collect()
    }
    assert got3 == want
    # and new batches keep landing after compaction
    streaming.preagg_apply_batch(
        spark.createDataFrame([(4, 40, "Lab")], schema), syn, 3
    )
    got4 = {
        r.admission_id: r.total_events
        for r in streaming.read_preagg(spark, syn).collect()
    }
    assert got4[4] == 1 and got4[1] == want[1][0]


def test_preagg_synopsis_recovers_mid_compaction_crash(spark, tmp_path):
    """A crash between compact_preagg's publish renames leaves no
    directory at the synopsis path; the next batch apply and the
    next read must both restore it and proceed (recover-before-
    access discipline)."""
    import os

    schema = (
        "admission_id long, clinical_concept_id long,"
        " event_source_type string"
    )
    syn = str(tmp_path / "synopsis")
    streaming.preagg_apply_batch(
        spark.createDataFrame([(1, 10, "Lab"), (2, 20, "Rx")], schema), syn, 0
    )
    streaming.preagg_apply_batch(
        spark.createDataFrame([(1, 11, "Rx")], schema), syn, 1
    )
    want = {
        r.admission_id: (r.total_events, r.unique_concepts, r.different_sources)
        for r in streaming.read_preagg(spark, syn).collect()
    }
    # crash between the renames: path gone, complete old present
    os.rename(syn, f"{syn}.old-compact")
    got = {
        r.admission_id: (r.total_events, r.unique_concepts, r.different_sources)
        for r in streaming.read_preagg(spark, syn).collect()
    }
    assert got == want
    # same crash again, then a new batch lands through recovery
    os.rename(syn, f"{syn}.old-compact")
    streaming.preagg_apply_batch(
        spark.createDataFrame([(3, 30, "Lab")], schema), syn, 2
    )
    got2 = {
        r.admission_id: r.total_events
        for r in streaming.read_preagg(spark, syn).collect()
    }
    assert got2 == {1: 2, 2: 1, 3: 1}
