"""Source/sink format coverage (SURVEY.md section 2.1 S1/S2
generalized): round-trip parquet / csv / json through read_source /
write_sink and through a partitioned layer write."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import (
    local_frame,
    read_source,
    read_table,
    write_sink,
)


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    write_sink(src, path, fmt=fmt)
    back = read_source(spark, path, fmt=fmt, schema=src.schema)
    assert back.count() == src.count()
    assert {f.name for f in back.schema.fields} == {f.name for f in src.schema.fields}
    # value-level spot check, order-insensitive
    a = {tuple(r) for r in src.select("n_nationkey", "n_name").collect()}
    b = {tuple(r) for r in back.select("n_nationkey", "n_name").collect()}
    assert a == b


def test_partitioned_sink_prunes(spark, sf_dir, tmp_path):
    src = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_part")
    write_sink(src, path, partition_by=["n_regionkey"])
    back = read_source(spark, path)
    one = back.filter(F.col("n_regionkey") == 0)
    # partition pruning: the filtered scan must read only the matching
    # directory (PartitionFilters in the physical plan)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "n_regionkey" in plan
    assert one.count() == src.filter(F.col("n_regionkey") == 0).count()


def test_write_training_shards(spark, sf_dir, tmp_path):
    """Sharded corpus sink: deterministic shard count, bounded file
    sizes, lossless round-trip."""
    import os

    from clinical_data_warehouse_bi_spark.io import read_table, write_training_shards

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, num_shards=4, shard_key="doc_id",
                          max_records_per_file=100)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    # 4 shards, each further split so no file exceeds 100 rows
    assert len(files) >= 4
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    for f in files:
        n = spark.read.parquet(os.path.join(out, f)).count()
        assert n <= 100
    # determinism: same key -> same shard across runs. Compare the
    # PER-SHARD KEY SETS, not row-count multisets — counts can match
    # while keys landed in different shards. Files of one shard share
    # a part number prefix (part-SSSSS-*); group by it.
    def shard_key_sets(path: str) -> list[frozenset]:
        by_shard: dict[str, set] = {}
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            shard = f.split("-")[1]
            ids = {
                r["doc_id"]
                for r in spark.read.parquet(os.path.join(path, f)).collect()
            }
            by_shard.setdefault(shard, set()).update(ids)
        return sorted(
            (frozenset(s) for s in by_shard.values()), key=lambda s: min(s)
        )

    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, num_shards=4, shard_key="doc_id",
                          max_records_per_file=100)
    assert shard_key_sets(out) == shard_key_sets(out2)


def test_global_shuffle_deterministic_permutation(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import global_shuffle, read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    a = [r["doc_id"] for r in global_shuffle(docs, "doc_id", seed=1).collect()]
    b = [r["doc_id"] for r in global_shuffle(docs, "doc_id", seed=1).collect()]
    c = [r["doc_id"] for r in global_shuffle(docs, "doc_id", seed=2).collect()]
    assert a == b  # same seed replays the same global order
    assert a != c  # different seed is a different permutation
    assert sorted(a) == sorted(c)  # ... of the same rows
    assert a != sorted(a)  # and it actually shuffled


def test_global_shuffle_no_single_partition(spark, sf_dir):
    """The permutation must come from a RANGE exchange + local sorts,
    never a global single-partition sort."""
    from clinical_data_warehouse_bi_spark.io import global_shuffle, read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    df = global_shuffle(docs, "doc_id", seed=1, partitions=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert df.rdd.getNumPartitions() > 1


def test_mix_sources_rates_and_determinism(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import mix_sources, read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.filter("doc_id % 2 = 0")
    rest = docs.filter("doc_id % 2 = 1")
    mixed = mix_sources([(half, 1.0), (rest, 0.3)], "doc_id", seed=5)
    n_half, n_rest = half.count(), rest.count()
    got = mixed.groupBy("__source").count().collect()
    counts = {r["__source"]: r["count"] for r in got}
    assert counts[0] == n_half  # rate 1.0 keeps everything
    assert 0.15 * n_rest < counts[1] < 0.45 * n_rest  # ~30% kept
    again = mix_sources([(half, 1.0), (rest, 0.3)], "doc_id", seed=5)
    assert mixed.exceptAll(again).count() == 0  # replay-stable

    import pytest

    with pytest.raises(ValueError, match="outside"):
        mix_sources([(half, 1.5)], "doc_id")


def test_write_sized_targets_file_size(spark, tmp_path):
    """Files land near the byte target: a small target splits the
    write into many bounded files, a large one collapses it; content
    identical either way."""
    import glob
    import os

    from clinical_data_warehouse_bi_spark.io import write_sized

    df = spark.range(0, 60_000).select(
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad1"),
        F.sha2((F.col("id") + 1).cast("string"), 256).alias("pad2"),
    )
    small = str(tmp_path / "small")
    res = write_sized(df, small, target_mb=1)
    files = glob.glob(os.path.join(small, "*.parquet"))
    assert res["n_files"] == len(files) >= 3
    # every file within ~2x of target (sample-ratio approximation)
    for f in files:
        assert os.path.getsize(f) <= 2 * 1024 * 1024
    assert spark.read.parquet(small).count() == 60_000

    big = str(tmp_path / "big")
    res2 = write_sized(df, big, target_mb=512)
    assert res2["n_files"] < res["n_files"]
    assert spark.read.parquet(big).count() == 60_000
    # scratch dir cleaned up
    assert not glob.glob(str(tmp_path / ".write-sized-sample*"))


def test_read_evolved_surfaces_late_columns(spark, tmp_path):
    """Two appended batches with an added column: the default read
    binds to one file's schema and can silently drop the new column;
    read_evolved merges footers — every column visible, early rows
    NULL-filled."""
    from clinical_data_warehouse_bi_spark.io import read_evolved

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(path)

    merged = read_evolved(spark, path)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
    assert rows[1]["v"] == "a" and rows[2]["v"] == "b"


def test_write_sized_under_partition_by(spark, tmp_path):
    """partitionBy path: files split inside each partition dir, rows
    preserved, no merge-count job attempted."""
    import glob
    import os

    from clinical_data_warehouse_bi_spark.io import write_sized

    df = spark.range(0, 20_000).select(
        F.col("id"),
        (F.col("id") % 3).alias("grp"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    out = str(tmp_path / "parts")
    res = write_sized(df, out, target_mb=1, partition_by=["grp"])
    dirs = glob.glob(os.path.join(out, "grp=*"))
    assert len(dirs) == 3
    back = spark.read.parquet(out)
    assert back.count() == 20_000
    assert back.select("grp").distinct().count() == 3
    assert res["n_files"] >= 3


def test_read_raw_files_modes(spark, tmp_path):
    """io.read_raw_files: the raw-file first mile. One row per file
    (binary/text), one row per line (lines); glob + recursion prune
    at listing time."""
    from clinical_data_warehouse_bi_spark.io import read_raw_files

    root = tmp_path / "corpus"
    (root / "sub").mkdir(parents=True)
    (root / "a.txt").write_text("alpha one\nalpha two")
    (root / "sub" / "b.txt").write_text("bravo")
    (root / "c.bin").write_bytes(b"\x00\x01\x02\x03")

    txt = read_raw_files(spark, str(root), mode="text", glob="*.txt")
    rows = {r["path"].rsplit("/", 1)[-1]: r["text"] for r in txt.collect()}
    assert rows == {"a.txt": "alpha one\nalpha two", "b.txt": "bravo"}

    lines = read_raw_files(spark, str(root), mode="lines", glob="*.txt")
    assert sorted(r["text"] for r in lines.collect()) == [
        "alpha one", "alpha two", "bravo",
    ]

    flat = read_raw_files(spark, str(root), mode="text", glob="*.txt",
                          recursive=False)
    assert {r["path"].rsplit("/", 1)[-1] for r in flat.collect()} == {"a.txt"}

    binary = read_raw_files(spark, str(root), mode="binary", glob="*.bin")
    b = binary.collect()
    assert len(b) == 1 and bytes(b[0]["content"]) == b"\x00\x01\x02\x03"
    assert b[0]["length"] == 4

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_raw_files(spark, str(root), mode="warc")


def test_read_raw_files_binary_length_pushdown(spark, tmp_path):
    """max_bytes compiles to a length predicate the binaryFile source
    pushes to the file listing — oversized blobs are skipped without
    reading a byte (the 100 TB guard for poison files)."""
    from clinical_data_warehouse_bi_spark.io import read_raw_files

    root = tmp_path / "blobs"
    root.mkdir()
    (root / "small.bin").write_bytes(b"x" * 10)
    (root / "big.bin").write_bytes(b"y" * 1000)
    df = read_raw_files(spark, str(root), mode="binary", max_bytes=100)
    assert [r["length"] for r in df.collect()] == [10]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "length" in plan.split("PushedFilters")[1][:200], plan[:1500]


def test_raw_to_documents_adapter(spark, tmp_path):
    from clinical_data_warehouse_bi_spark.io import raw_to_documents, read_raw_files

    root = tmp_path / "corpus"
    (root / "wiki").mkdir(parents=True)
    (root / "web").mkdir()
    (root / "wiki" / "a.txt").write_text("alpha body")
    (root / "web" / "b.txt").write_text("bravo body text")
    docs = raw_to_documents(read_raw_files(spark, str(root), mode="text", glob="*.txt"))
    rows = {r["source"]: r for r in docs.collect()}
    assert set(rows) == {"wiki", "web"}
    assert rows["wiki"]["text"] == "alpha body"
    assert rows["wiki"]["n_chars"] == 10
    assert rows["web"]["n_chars"] == 15
    assert len({r["doc_id"] for r in rows.values()}) == 2
    # identity is stable across re-reads
    again = raw_to_documents(
        read_raw_files(spark, str(root), mode="text", glob="*.txt")
    )
    assert {r["doc_id"] for r in again.collect()} == {
        r["doc_id"] for r in rows.values()
    }


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


def test_temperature_mix_end_to_end(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import read_table, temperature_mix

    docs = read_table(spark, sf_dir, "documents")
    big = docs.filter(F.col("doc_id") % 10 != 0)    # ~90%
    small = docs.filter(F.col("doc_id") % 10 == 0)  # ~10%
    n_big, n_small = big.count(), small.count()
    budget = (n_big + n_small) * 0.3
    mixed = temperature_mix([big, small], "doc_id", alpha=0.5, budget=budget)
    by_src = {
        r["__source"]: r["n"]
        for r in mixed.groupBy("__source").agg(F.count("*").alias("n")).collect()
    }
    import math

    w = [math.sqrt(n_big), math.sqrt(n_small)]
    want = [budget * wi / sum(w) for wi in w]
    # hash-threshold sampling: binomial-ish tolerance around target
    for i in (0, 1):
        assert abs(by_src[i] - want[i]) < 4 * math.sqrt(want[i]) + 5, (
            i, by_src[i], want[i],
        )
    # deterministic replay
    again = temperature_mix([big, small], "doc_id", alpha=0.5, budget=budget)
    assert sorted(r["doc_id"] for r in mixed.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_temperature_mix_keyed_matches_rates(spark, sf_dir):
    """One-scan keyed form: per-source kept counts track the same
    water-filled rates the list form derives, the sample is
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
    which rows of an existing source are kept (the index-salted list
    form reshuffles every later source)."""
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


def test_temperature_mix_token_budget(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import read_table, temperature_mix

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split("text", "\\s+"))
    )
    big = docs.filter(F.col("doc_id") % 10 != 0)
    small = docs.filter(F.col("doc_id") % 10 == 0)
    tok_total = docs.agg(F.sum("n_tok")).first()[0]
    budget = tok_total * 0.3
    mixed = temperature_mix(
        [big, small], "doc_id", alpha=1.0, budget=budget, weight_col="n_tok"
    )
    kept_tok = mixed.agg(F.sum("n_tok")).first()[0]
    # alpha=1, token-measured: kept token mass ~ budget. The draw is
    # a FIXED function of the id hash; at 500 docs (mean 56 tokens,
    # sd 26) one relative sigma is ~7.5%, so bound at ~3-4 sigma —
    # the estimator concentrates as 1/sqrt(docs) at corpus scale.
    assert abs(kept_tok - budget) / budget < 0.25
    assert mixed.filter("__source = 0").count() > 0
    assert mixed.filter("__source = 1").count() > 0


def test_mix_keeps_sources_with_tiny_rates(spark):
    """Round-12 review finding: int(rate * 1e6) TRUNCATED a
    water-filled rate below 1e-6 to threshold 0 and silently dropped
    the whole source. The 1e12 hash space + positive-rate floor must
    keep every allocated source represented in the threshold map
    (and mix_sources must not drop a tiny-rate frame outright)."""
    from clinical_data_warehouse_bi_spark.io import (
        _mix_keep_threshold,
        mix_sources,
    )

    # threshold math: positive rates never round to zero
    assert _mix_keep_threshold(0.0) == 0
    assert _mix_keep_threshold(1e-7) == 100_000
    assert _mix_keep_threshold(1e-13) == 1  # the floor
    assert _mix_keep_threshold(1.0) == 1_000_000_000_000
    # end-to-end: a 1e-7 rate keeps SOME probability mass — with only
    # 200 ids the expected sample is ~0 rows, so assert the threshold
    # path executes and the replay is deterministic rather than a
    # row-count (that would be flaky); the rate-0 source must drop.
    df = spark.range(200).withColumnRenamed("id", "doc_id")
    out = mix_sources([(df, 1e-7), (df, 0.0), (df, 1.0)], "doc_id", seed=3)
    rows = {(r["doc_id"], r["__source"]) for r in out.collect()}
    assert {s for _, s in rows} <= {0, 2}
    assert sum(1 for _, s in rows if s == 2) == 200
    again = mix_sources([(df, 1e-7), (df, 0.0), (df, 1.0)], "doc_id", seed=3)
    assert {(r["doc_id"], r["__source"]) for r in again.collect()} == rows



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
