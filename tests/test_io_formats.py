"""io.py helpers: temperature-mixing rates and the keyed one-scan
mix, dataset manifests, and local_frame's driver-row relations."""

from __future__ import annotations

from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import local_frame


def test_temperature_mix_rates_exact():
    from clinical_data_warehouse_bi_spark.io import temperature_mix_rates

    # alpha=1: proportional allocation
    assert temperature_mix_rates([9000, 1000], 1.0, 2000) == [0.2, 0.2]
    # alpha=0.5: sqrt smoothing -> shares (0.75, 0.25) of the budget
    r = temperature_mix_rates([9000, 1000], 0.5, 2000)
    assert abs(r[0] - 1500 / 9000) < 1e-12 and abs(r[1] - 500 / 1000) < 1e-12
    # budget exceeding the corpus: everything kept
    assert temperature_mix_rates([9000, 1000], 0.5, 20000) == [1.0, 1.0]
    # water-fill: uniform wants 2500 each, the small source caps at
    # its 100 rows and the remainder flows to the big one
    assert temperature_mix_rates([100, 10000], 0.0, 5000) == [1.0, 0.49]
    # empty source stays at 0 without dividing by zero
    assert temperature_mix_rates([0, 1000], 0.5, 500) == [0.0, 0.5]


def test_temperature_mix_rates_rejections():
    import pytest as _pytest

    from clinical_data_warehouse_bi_spark.io import temperature_mix_rates

    with _pytest.raises(ValueError):
        temperature_mix_rates([10], -0.1, 5)
    with _pytest.raises(ValueError):
        temperature_mix_rates([10], 0.5, 0)
    with _pytest.raises(ValueError):
        temperature_mix_rates([], 0.5, 5)


def _two_sources(spark, sf_dir):
    """documents split by doc_id into a ~90% 'big' and a ~10% 'small'
    source, as one table with a ``source`` key."""
    from clinical_data_warehouse_bi_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    return docs.withColumn(
        "source", F.when(F.col("doc_id") % 10 == 0, "small").otherwise("big")
    )


def _counts_by_source(df):
    return {
        r["source"]: r["n"]
        for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()
    }


def test_mix_sources_rates_and_determinism(spark, sf_dir):
    """Water-filled rates applied: under a uniform temperature the
    small source's share exceeds its size, so it caps at rate 1 and
    keeps every row, while the big source gets the rest of the
    budget (~30%); the sample replays identically."""
    import pytest

    from clinical_data_warehouse_bi_spark.io import temperature_mix_keyed

    docs = _two_sources(spark, sf_dir).select("doc_id", "text", "source")
    sizes = _counts_by_source(docs)
    n_small, n_big = sizes["small"], sizes["big"]
    budget = n_small + 0.3 * n_big
    mixed = temperature_mix_keyed(docs, "source", "doc_id", 0.0, budget)
    counts = _counts_by_source(mixed)
    assert counts["small"] == n_small  # rate 1.0 keeps everything
    assert 0.15 * n_big < counts["big"] < 0.45 * n_big  # ~30% kept
    again = temperature_mix_keyed(docs, "source", "doc_id", 0.0, budget)
    assert mixed.exceptAll(again).count() == 0  # replay-stable
    assert again.exceptAll(mixed).count() == 0

    with pytest.raises(ValueError, match="alpha"):
        temperature_mix_keyed(docs, "source", "doc_id", -0.5, budget)


def test_temperature_mix_end_to_end(spark, sf_dir):
    """alpha=0.5: kept counts per source track budget * sqrt(n_i) /
    sum(sqrt(n_j)), computed here from the source sizes alone, and
    the mixture is deterministic on replay."""
    import math

    from clinical_data_warehouse_bi_spark.io import temperature_mix_keyed

    docs = _two_sources(spark, sf_dir)
    sizes = _counts_by_source(docs)
    budget = sum(sizes.values()) * 0.3
    mixed = temperature_mix_keyed(docs, "source", "doc_id", 0.5, budget)
    got = _counts_by_source(mixed)
    w = {k: math.sqrt(n) for k, n in sizes.items()}
    for k in ("big", "small"):
        want = budget * w[k] / sum(w.values())
        # hash-threshold sampling: binomial-ish tolerance around target
        assert abs(got[k] - want) < 4 * math.sqrt(want) + 5, (k, got[k], want)
    # deterministic replay
    again = temperature_mix_keyed(docs, "source", "doc_id", 0.5, budget)
    assert sorted(r["doc_id"] for r in mixed.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_temperature_mix_keyed_matches_rates(spark, sf_dir):
    """One-scan keyed form: per-source kept counts track the
    water-filled rates temperature_mix_rates derives, the sample is
    deterministic on replay, and the plan pays ONE aggregation —
    not one full scan per source."""
    import math

    from clinical_data_warehouse_bi_spark.io import (
        read_table,
        temperature_mix_keyed,
        temperature_mix_rates,
    )

    docs = read_table(spark, sf_dir, "documents")
    sizes = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    budget = sum(sizes.values()) * 0.4
    mixed = temperature_mix_keyed(docs, "source", "doc_id", 0.5, budget)
    got = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    keys = sorted(sizes)
    rates = temperature_mix_rates([float(sizes[k]) for k in keys], 0.5, budget)
    for k, rate in zip(keys, rates):
        want = sizes[k] * rate
        assert abs(got.get(k, 0) - want) < 4 * math.sqrt(max(want, 1)) + 5, (
            k, got.get(k, 0), want,
        )
    # deterministic replay
    again = temperature_mix_keyed(docs, "source", "doc_id", 0.5, budget)
    assert sorted(r["doc_id"] for r in mixed.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_temperature_mix_keyed_null_key_and_stability(spark):
    """NULL keys form their own source (chr(0) sentinel), and a
    source's sample is key-salted: adding a NEW source never changes
    which rows of an existing source are kept."""
    from clinical_data_warehouse_bi_spark.io import temperature_mix_keyed

    base = [(i, "a") for i in range(200)] + [(1000 + i, None) for i in range(200)]
    df = spark.createDataFrame(base, "doc_id long, src string")
    out = temperature_mix_keyed(df, "src", "doc_id", 1.0, 200.0)
    by_key = {
        r["src"]: r["n"]
        for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    # alpha=1 proportional: ~100 kept from each, NULL included
    assert set(by_key) == {"a", None}
    assert 60 < by_key["a"] < 140 and 60 < by_key[None] < 140
    kept_a = {r["doc_id"] for r in out.filter("src = 'a'").collect()}

    extra = df.unionByName(
        spark.createDataFrame([(5000 + i, "b") for i in range(200)],
                              "doc_id long, src string")
    )
    out2 = temperature_mix_keyed(extra, "src", "doc_id", 1.0, 300.0)
    kept_a2 = {r["doc_id"] for r in out2.filter("src = 'a'").collect()}
    # same per-source rate (uniform sizes, proportional alpha) ->
    # byte-identical per-source sample regardless of the new source
    assert kept_a == kept_a2


def test_dataset_manifest_roundtrip_and_tamper(spark, sf_dir, tmp_path):
    from clinical_data_warehouse_bi_spark.io import (
        read_table,
        verify_dataset_manifest,
        write_dataset_manifest,
    )

    path = str(tmp_path / "release")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(path)
    man = write_dataset_manifest(spark, path, extra={"mixture": {"web": 1.0}})
    assert man["total_rows"] == docs.count()
    assert len(man["shards"]) == 4
    assert man["extra"]["mixture"] == {"web": 1.0}
    # spark can still read the directory (manifest is _-prefixed)
    assert spark.read.parquet(path).count() == man["total_rows"]
    # consumer-side verification passes untouched
    assert verify_dataset_manifest(spark, path)["ok"]
    # layout independence: same rows, different sharding -> same
    # dataset fingerprint (per-shard ones legitimately differ)
    path2 = str(tmp_path / "release2")
    spark.read.parquet(path).select("doc_id", "text").repartition(7).write.parquet(path2)
    man2 = write_dataset_manifest(spark, path2)
    assert man2["dataset_fingerprint"] == man["dataset_fingerprint"]
    assert man2["total_rows"] == man["total_rows"]
    # tamper: drop a shard -> named mismatch
    import glob
    import os

    victim = glob.glob(os.path.join(path, "part-*"))[0]
    os.remove(victim)
    v = verify_dataset_manifest(spark, path)
    assert not v["ok"]
    assert any(m["problem"] == "missing" for m in v["mismatches"])


def test_mix_keeps_sources_with_tiny_rates():
    """Round-12 review finding: int(rate * 1e6) TRUNCATED a
    water-filled rate below 1e-6 to threshold 0 and silently dropped
    the whole source. The 1e12 hash space + positive-rate floor must
    keep every allocated source represented in the threshold map
    temperature_mix_keyed builds."""
    from clinical_data_warehouse_bi_spark.io import _mix_keep_threshold

    # threshold math: positive rates never round to zero
    assert _mix_keep_threshold(0.0) == 0
    assert _mix_keep_threshold(1e-7) == 100_000
    assert _mix_keep_threshold(1e-13) == 1  # the floor
    assert _mix_keep_threshold(1.0) == 1_000_000_000_000


def test_local_frame_matches_create_dataframe(spark, monkeypatch):
    """io.local_frame gives the schema and rows createDataFrame(list)
    gives, NULLs and empty input included, as a JVM LocalRelation —
    with the Arrow conf off, as in a plain session, and with naive
    datetimes read as host-local time on a non-UTC host too."""
    import datetime as dt
    import time

    schema = "i int, b bigint, d double, s string, day date, ts timestamp"
    rows = [
        (1, 2**40, 1.5, "a", dt.date(2020, 2, 29), dt.datetime(2020, 7, 1, 23, 59, 59, 1)),
        (None, None, None, None, None, None),
        (-7, -1, -0.25, "", dt.date(1900, 1, 1), dt.datetime(2999, 12, 31, 23, 59, 59)),
    ]
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        for tz in ("UTC", "America/New_York"):
            monkeypatch.setenv("TZ", tz)
            time.tzset()
            for case in (rows, []):
                got = local_frame(spark, case, schema)
                want = spark.createDataFrame(case, schema)
                assert got.schema == want.schema
                assert got.collect() == want.collect(), tz
                plan = got._jdf.queryExecution().optimizedPlan()
                assert plan.nodeName() == "LocalRelation", plan.toString()
    finally:
        spark.conf.set(conf, prior)
        monkeypatch.undo()
        time.tzset()
