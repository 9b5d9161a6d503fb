"""End-to-end clinical pipeline test (SURVEY.md section 5.3): run the
full staging -> DWH -> agg lifecycle on MIMIC-shaped fixtures, then
assert the ported QA suite comes back clean (modulo the reference's
own documented quirks)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import qa, star
from tests.clinical_fixtures import make_sources


@pytest.fixture(scope="module")
def pipeline(spark):
    src = make_sources(spark)
    out = star.run_pipeline(src)
    # cache the two facts: most tests here re-read them
    out["stage"]["fact_disorder_events"].cache()
    out["dwh"]["fact_disorder_events"].cache()
    return src, out["stage"], out["dwh"]


@pytest.fixture(scope="module")
def qa_reports(pipeline):
    """The four QA.sql reports of the pipeline, collected."""
    _, stage, dwh = pipeline
    return {k: v.collect() for k, v in qa.run_all(stage, dwh).items()}


def test_build_staging_emits_no_user_warning(spark):
    """build_staging's key-build pool hands inheritable_thread_target
    the session: given none, pinned-thread mode warns on every run
    that spark.addTag tags are not inherited by the two key jobs."""
    import warnings

    src = make_sources(spark, n_patients=10, seed=3)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        star.build_staging(src)
    assert not [w for w in caught if issubclass(w.category, UserWarning)], [
        str(w.message) for w in caught
    ]


def test_stage_fact_shape(pipeline):
    src, stage, dwh = pipeline
    fact = stage["fact_disorder_events"]
    assert fact.columns == star.FACT_COLS
    n = fact.count()
    assert n > 0
    # surrogate keys are dense and unique
    assert fact.select("disorder_event_id").distinct().count() == n
    srcs = {r["event_source_type"] for r in fact.select("event_source_type").distinct().collect()}
    assert srcs == {"lab", "diagnosis", "omr"}


def test_sentinel_timestamps_applied(pipeline):
    src, stage, dwh = pipeline
    adm = stage["dim_admissions"]
    lo = adm.filter(F.col("admittime") == F.lit("1900-01-01 00:00:00").cast("timestamp"))
    hi = adm.filter(F.col("dischtime") == F.lit("2999-12-31 23:59:59").cast("timestamp"))
    assert lo.count() > 0 and hi.count() > 0
    assert adm.filter(F.col("admittime").isNull()).count() == 0


def test_unknown_concept_backfill(pipeline):
    src, stage, dwh = pipeline
    fact = stage["fact_disorder_events"]
    assert fact.filter(F.col("clinical_concept_id").isNull()).count() == 0
    unknown_id = (
        stage["dim_concepts"]
        .filter(F.col("concept_name") == "Unknown concept")
        .first()["clinical_concept_id"]
    )
    # unmatched lab items (non-keyword labels) must map to Unknown
    assert fact.filter(F.col("clinical_concept_id") == unknown_id).count() > 0


def test_interval_join_careunit_backfill(pipeline):
    src, stage, dwh = pipeline
    fact = stage["fact_disorder_events"]
    # at least some lab events fall inside a transfer interval
    assert fact.filter(F.col("careunit_id").isNotNull()).count() > 0
    # determinism: the same pipeline run twice gives identical careunit
    fact2 = star.build_staging(src)["fact_disorder_events"]
    a = fact.select("disorder_event_id", "careunit_id", "provider_id")
    b = fact2.select("disorder_event_id", "careunit_id", "provider_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_junk_dim_linkage(pipeline):
    src, stage, dwh = pipeline
    fact = stage["fact_disorder_events"]
    junk = stage["dim_junk_disorder_event"]
    # every fact row links to exactly one junk row (null-safe join)
    assert fact.filter(F.col("junk_id").isNull()).count() == 0
    n_combos = (
        fact.select("event_source_type", "measurement_unit", "careunit_id")
        .distinct()
        .count()
    )
    assert junk.count() == n_combos


def test_qa_duplicates_zero(qa_reports):
    dup = qa_reports["duplicates"]
    assert all(r["num_dupes"] == 0 for r in dup), dup


def test_qa_orphans(pipeline, qa_reports):
    src, stage, dwh = pipeline
    rows = {r["issue"]: r["num_records"] for r in qa_reports["orphans"]}
    assert rows["Orphan patients"] == 0
    assert rows["Orphan concepts"] == 0
    assert rows["Orphan dates"] == 0
    assert rows["Orphan junk_id"] == 0
    # reference quirk (QA.sql:88-92): NULL admission_id (all OMR rows)
    # counts as an orphan under LEFT JOIN USING semantics
    null_adm = (
        dwh["fact_disorder_events"].filter(F.col("admission_id").isNull()).count()
    )
    assert rows["Orphan admissions"] == null_adm


def test_qa_fact_vs_agg_zero(qa_reports):
    row = qa_reports["fact_vs_agg"][0]
    assert row["diff_events"] == 0


def test_qa_rowcount_reconciliation(qa_reports):
    rows = {r["table_name"]: r for r in qa_reports["rowcounts"]}
    # dims with unique natural keys promote 1:1
    assert rows["dim_patients"]["diff_rows"] == 0
    assert rows["dim_concepts"]["diff_rows"] == 0
    assert rows["dim_date"]["diff_rows"] == 0
    # fact may shrink via DISTINCT + orphan cleanup but never grow
    assert rows["fact_disorder_events"]["diff_rows"] >= 0
    for r in rows.values():
        assert r["dwh_rows"] > 0


def test_qa_runs_as_one_action(spark):
    """QA.sql compiles to one shared aggregate, collected once by
    run_all: the four reports together cost a bounded number of jobs
    (the per-probe form took 80), and collecting the 2nd to 4th
    report runs none."""
    out = star.run_pipeline(make_sources(spark, n_patients=20, seed=7))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "qa-action-count"
    sc.setJobGroup(group, "qa.run_all")
    try:
        reports = list(qa.run_all(out["stage"], out["dwh"]).values())
        reports[0].collect()
        first = len(tracker.getJobIdsForGroup(group))
        for df in reports[1:]:
            df.collect()
        total = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert total <= 25, total
    assert total == first


_T1, _T2, _T3 = (
    datetime(2024, 1, 1, 8), datetime(2024, 1, 2, 9), datetime(2024, 1, 3, 10)
)
#: planted defects, (DDL, rows) per table: duplicated and twice-NULL
#: dim keys, NULL and dangling FKs (a NULL FK also where the dim holds
#: a NULL key), stage != DWH counts, an empty dim, an empty pre-agg
_QA_STAGE = {
    "dim_patients": ("patient_id int", [(1,), (2,), (3,), (4,)]),
    "dim_admissions": ("admission_id int", [(10,), (11,), (12,)]),
    "dim_provider": ("provider_id bigint", [(100,), (101,), (102,)]),
    "dim_concepts": ("clinical_concept_id bigint", [(500,)]),
    "dim_date": ("event_datetime timestamp", [(_T1,), (_T2,)]),
    "dim_junk_disorder_event": ("junk_id int", [(1,), (2,)]),
    "fact_disorder_events": ("patient_id int", [(1,)] * 7),
}
_QA_FACT_DDL = (
    "patient_id int, admission_id int, clinical_concept_id bigint,"
    " event_datetime timestamp, junk_id int"
)
_QA_DWH = {
    "dim_patients": ("patient_id int", [(1,), (2,), (2,), (3,), (None,), (None,)]),
    "dim_admissions": ("admission_id int", [(10,), (11,), (12,)]),
    "dim_provider": ("provider_id bigint", [(100,), (101,)]),
    "dim_concepts": ("clinical_concept_id bigint", []),
    "dim_date": ("event_datetime timestamp", [(_T1,), (_T2,), (_T2,)]),
    "dim_junk_disorder_event": ("junk_id int", [(1,), (2,), (None,)]),
    "fact_disorder_events": (_QA_FACT_DDL, [
        (1, 10, 500, _T1, 1),
        (None, 10, None, _T2, None),
        (9, 99, 501, _T3, 7),
        (2, None, 500, None, 2),
        (3, 11, 502, _T1, 1),
    ]),
    "agg_disorders_per_admission": ("admission_id int, total_events bigint", []),
}


def test_qa_planted_defects_match_duckdb(spark):
    """Every QA.sql report over hand-planted defects equals DuckDB
    running QA.sql's own SQL shapes on the same rows: scalar
    COUNT(*), LEFT JOIN ... USING ... IS NULL, GROUP BY ... HAVING
    COUNT(*) > 1 and SUM (NULL over the empty pre-agg)."""
    import duckdb

    from clinical_data_warehouse_bi_spark.io import local_frame

    con = duckdb.connect()
    frames = {}
    for layer, tables in (("stage", _QA_STAGE), ("dwh", _QA_DWH)):
        frames[layer] = {}
        for t, (ddl, rows) in tables.items():
            frames[layer][t] = local_frame(spark, rows, ddl)
            con.execute(f"CREATE TABLE {layer}_{t} ({ddl})")
            if rows:
                marks = ", ".join("?" * len(rows[0]))
                con.executemany(f"INSERT INTO {layer}_{t} VALUES ({marks})", rows)

    def duck(parts: list[str]) -> list[tuple]:
        union = " UNION ALL ".join(
            f"SELECT {i} AS i, * FROM ({p})" for i, p in enumerate(parts)
        )
        return [r[1:] for r in con.execute(f"{union} ORDER BY i").fetchall()]

    keyed = [
        ("patients", "dim_patients", "patient_id", "patients"),
        ("admissions", "dim_admissions", "admission_id", "admissions"),
        ("concepts", "dim_concepts", "clinical_concept_id", "concepts"),
        ("dates", "dim_date", "event_datetime", "dates"),
        ("junk_id", "dim_junk_disorder_event", "junk_id", "junk"),
    ]
    expected = {
        "rowcounts": duck([
            f"SELECT '{t}', (SELECT COUNT(*) FROM stage_{t}) AS s,"
            f" (SELECT COUNT(*) FROM dwh_{t}) AS d,"
            f" (SELECT COUNT(*) FROM stage_{t}) - (SELECT COUNT(*) FROM dwh_{t})"
            for t in _QA_STAGE
        ]),
        "fact_vs_agg": duck([
            "SELECT 'Fact vs Agg Total', f, a, f - a FROM"
            " (SELECT COUNT(*) AS f FROM dwh_fact_disorder_events),"
            " (SELECT SUM(total_events) AS a FROM dwh_agg_disorders_per_admission)"
        ]),
        "orphans": duck([
            f"SELECT 'Orphan {o}', COUNT(*) FROM dwh_fact_disorder_events f"
            f" LEFT JOIN dwh_{t} d USING ({k}) WHERE d.{k} IS NULL"
            for o, t, k, _ in keyed
        ]),
        "duplicates": duck([
            f"SELECT 'Duplicate {dl}', COUNT(*) FROM"
            f" (SELECT {k} FROM dwh_{t} GROUP BY {k} HAVING COUNT(*) > 1)"
            for _, t, k, dl in keyed
        ]),
    }
    got = {
        k: [tuple(r) for r in v.collect()]
        for k, v in qa.run_all(frames["stage"], frames["dwh"]).items()
    }
    assert got == expected
    # the planted defects are visible, not vacuously zero
    assert got["fact_vs_agg"] == [("Fact vs Agg Total", 5, None, None)]
    assert [n for _, n in got["orphans"]] == [2, 2, 5, 2, 2]
    assert [n for _, n in got["duplicates"]] == [2, 0, 0, 1, 0]


def test_agg_matches_manual(pipeline):
    src, stage, dwh = pipeline
    agg = dwh["agg_disorders_per_admission"]
    manual = (
        dwh["fact_disorder_events"]
        .groupBy("admission_id")
        .agg(F.count("*").alias("n"))
    )
    joined = agg.join(manual, "admission_id")
    assert joined.filter(F.col("total_events") != F.col("n")).count() == 0


def test_release_frees_pipeline_checkpoints(spark):
    """A pipeline run pins localCheckpoint RDD blocks that
    catalog.clearCache cannot release (not CacheManager-registered);
    io.release_new_persistent_rdds must return the session exactly to
    its pre-run storage baseline — the between-epochs cleanup a
    long-lived session needs (without it, repeated runs degrade as
    executor storage fills)."""
    from clinical_data_warehouse_bi_spark.io import (
        release_new_persistent_rdds,
        snapshot_persistent_rdds,
    )

    spark.catalog.clearCache()
    src = make_sources(spark)
    baseline = snapshot_persistent_rdds(spark)
    out = star.run_pipeline(src)
    out["dwh"]["fact_disorder_events"].write.format("noop").mode(
        "overwrite"
    ).save()
    created = snapshot_persistent_rdds(spark) - baseline
    assert created, "expected the pipeline to checkpoint at its barriers"
    released = release_new_persistent_rdds(spark, baseline)
    # ContextCleaner may have GC-released some concurrently, so bound
    # rather than equate; the invariant is NO new RDD survives
    assert released <= len(created)
    assert snapshot_persistent_rdds(spark) - baseline == set()


def test_star_matches_reference_sql_in_duckdb(pipeline):
    """The reference is SQL (Stage_area.sql / DWH.sql), so its own
    CTAS / UPDATE / DELETE chain run by DuckDB (scripts/ab.py
    DUCK_PIPELINE, all six orphan DELETEs and the dim_date top-up
    included) is the oracle: all 16 stage and DWH relations equal it
    as multisets once each surrogate key is resolved to its natural
    key (natural_key_sql). Arrow, not pandas, carries the rows: the
    2999-12-31 sentinel overflows pandas' ns range."""
    import duckdb

    from scripts.ab import (
        DUCK_PIPELINE,
        DUCK_TABLES,
        SOURCES,
        comparable,
        natural_key_sql,
        star_checksum,
    )

    src, stage, dwh = pipeline
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in SOURCES:
        con.register(t, src[t].toArrow())
    con.execute(DUCK_PIPELINE)

    for layer, out in (("stage", stage), ("dwh", dwh)):
        duck_tables = DUCK_TABLES[layer]
        spark_tables = {n: f"spark_{t}" for n, t in duck_tables.items()}
        assert set(out) == set(duck_tables)
        for name, t in spark_tables.items():
            con.register(t, out[name].toArrow())
        for name in duck_tables:
            spark_cols, spark_sql = comparable(con, natural_key_sql(name, spark_tables))
            duck_cols, duck_sql = comparable(con, natural_key_sql(name, duck_tables))
            assert spark_cols == duck_cols, (layer, name)
            only_spark = con.execute(f"{spark_sql} EXCEPT ALL {duck_sql}").fetchall()
            only_duck = con.execute(f"{duck_sql} EXCEPT ALL {spark_sql}").fetchall()
            assert not only_spark and not only_duck, (
                f"{layer}.{name}: {len(only_spark)} rows only in Spark "
                f"(e.g. {only_spark[:2]}), {len(only_duck)} only in DuckDB "
                f"(e.g. {only_duck[:2]})"
            )
    # ab.py's pipeline_star checksum reads the same rows, so it agrees
    # across the two engines' types
    spark_dwh = {n: f"spark_{t}" for n, t in DUCK_TABLES["dwh"].items()}
    assert star_checksum(con, spark_dwh) == star_checksum(con, DUCK_TABLES["dwh"])
    # the DWH fact's keys are dense 1..N over the SURVIVING rows
    n, nd, lo, hi = con.execute(
        "SELECT count(*), count(DISTINCT disorder_event_id),"
        " min(disorder_event_id), max(disorder_event_id)"
        " FROM spark_d_fact"
    ).fetchone()
    assert (nd, lo, hi) == (n, 1, n)


def test_dwh_scale_path_provenance_tripwire(pipeline):
    """build_dwh's probe elisions are gated on build_staging's
    provenance marker. A DOCTORED hand-built stage dict (a plain dict
    whose dim_concepts lost a key the fact references) must get the
    full probe set: its DWH fact is the tagged build's fact minus
    exactly the orphaned rows, instead of silently-elided probes
    leaking them. The tagged dict's elisions are checked by
    test_star_matches_reference_sql_in_duckdb."""
    _, stage, dwh = pipeline
    assert getattr(stage, "_from_build_staging", False)
    # hand-built: a FRESH plain dict (marker dropped), with one
    # referenced concept removed from the dim — fact rows carrying it
    # are now orphans the elided probes would leak
    victim = (
        stage["fact_disorder_events"]
        .select("clinical_concept_id").filter("clinical_concept_id is not null")
        .first()["clinical_concept_id"]
    )
    doctored = {k: v for k, v in stage.items()}
    assert not getattr(doctored, "_from_build_staging", False)
    doctored["dim_concepts"] = stage["dim_concepts"].filter(
        F.col("clinical_concept_id") != victim
    )
    got = star.build_dwh(doctored)["fact_disorder_events"]
    # the orphaned concept rows are gone at default settings
    assert got.filter(F.col("clinical_concept_id") == victim).count() == 0

    def rows(df):
        cols = sorted(c for c in df.columns if c != "disorder_event_id")
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()
        )

    tagged = dwh["fact_disorder_events"]
    expected = tagged.filter(F.col("clinical_concept_id") != victim)
    assert tagged.count() > expected.count()
    assert rows(got) == rows(expected)
