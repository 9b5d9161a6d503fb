"""Clinical KPI pack (kpi.py): 30-day readmission and daily
census — each cross-checked against an independent DuckDB brute
force on the SAME staged dimensions, plus the sentinel/scale
guards that matter at 100 TB."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import kpi
from clinical_data_warehouse_bi_spark.fixtures import make_sources
from clinical_data_warehouse_bi_spark.star import build_staging


@pytest.fixture(scope="module")
def dims(spark):
    stage = build_staging(make_sources(spark, n_patients=80, seed=77))
    adm = stage["dim_admissions"].cache()
    prov = stage["dim_provider"].cache()
    adm.count(), prov.count()
    return {"adm": adm, "prov": prov}


@pytest.fixture(scope="module")
def duck_dims(dims):
    # ship sentinel (year-2999) timestamps as STRINGS — pandas ns
    # datetimes overflow on them (the recorded verify gotcha) — and
    # cast back to TIMESTAMP inside DuckDB, which is not ns-bound
    con = duckdb.connect()
    adm_pd = dims["adm"].select(
        "patient_id", "admission_id", "admission_type", "insurance",
        F.col("admittime").cast("string").alias("admittime_s"),
        F.col("dischtime").cast("string").alias("dischtime_s"),
    ).toPandas()
    prov_pd = dims["prov"].select(
        "patient_id", "careunit_id",
        F.col("intime").cast("string").alias("intime_s"),
        F.col("outtime").cast("string").alias("outtime_s"),
    ).toPandas()
    con.register("adm_raw", adm_pd)
    con.register("prov_raw", prov_pd)
    con.execute("""
        CREATE VIEW adm AS
        SELECT patient_id, admission_id, admission_type, insurance,
               CAST(admittime_s AS TIMESTAMP) AS admittime,
               CAST(dischtime_s AS TIMESTAMP) AS dischtime
        FROM adm_raw
    """)
    con.execute("""
        CREATE VIEW prov AS
        SELECT patient_id, careunit_id,
               CAST(intime_s AS TIMESTAMP) AS intime,
               CAST(outtime_s AS TIMESTAMP) AS outtime
        FROM prov_raw
    """)
    yield con
    con.close()


def _key(t):
    return tuple((v is None, str(v)) for v in t)


def _rows(df, cols):
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=_key)


# ---------------------------------------------------- readmission


READMIT_SQL = """
WITH known AS (
  SELECT patient_id, admission_id,
         CASE WHEN admittime IN (TIMESTAMP '1900-01-01 00:00:00',
                                 TIMESTAMP '2999-12-31 23:59:59')
              THEN NULL ELSE admittime END AS a,
         CASE WHEN dischtime IN (TIMESTAMP '1900-01-01 00:00:00',
                                 TIMESTAMP '2999-12-31 23:59:59')
              THEN NULL ELSE dischtime END AS d
  FROM adm
), chained AS (
  SELECT patient_id, admission_id, a, d,
         lead(a) OVER (PARTITION BY patient_id
                       ORDER BY a, admission_id) AS next_a
  FROM known WHERE a IS NOT NULL
)
SELECT admission_id,
       round(date_diff('second', d, next_a) / 86400.0, 6) AS gap_days,
       CASE WHEN next_a IS NULL OR d IS NULL THEN NULL
            ELSE date_diff('second', d, next_a) / 86400.0 >= 0
                 AND date_diff('second', d, next_a) / 86400.0 <= 30.0
       END AS readmitted
FROM chained
"""


def test_readmission_flags_match_duckdb(dims, duck_dims):
    got = kpi.readmission_flags(dims["adm"], within_days=30).select(
        "admission_id",
        F.round("days_to_readmit", 6).alias("gap_days"),
        "readmitted",
    ).filter(
        # DuckDB side only emits the known-admit chain rows
        F.col("admittime") != kpi.SENTINEL_LOW
    )
    want = duck_dims.execute(READMIT_SQL).fetchall()
    assert _rows(got, ["admission_id", "gap_days", "readmitted"]) == sorted(
        ((r[0], r[1], r[2]) for r in want), key=_key
    )


def test_readmission_unknown_admit_rows_passthrough(dims):
    out = kpi.readmission_flags(dims["adm"])
    assert out.count() == dims["adm"].count()  # nothing dropped
    unknown = out.filter(F.col("admittime") == kpi.SENTINEL_LOW)
    assert unknown.count() > 0
    assert unknown.filter(
        F.col("days_to_readmit").isNotNull()
        | F.col("readmitted").isNotNull()
    ).count() == 0


def test_readmission_rate_matches_duckdb(dims, duck_dims):
    got = kpi.readmission_rate(dims["adm"], ["admission_type"]).select(
        "admission_type", "n_eligible", "n_readmitted"
    )
    want = duck_dims.execute("""
        WITH f AS (""" + READMIT_SQL.replace(
        "SELECT admission_id,",
        "SELECT admission_id, d,") + """)
        SELECT a.admission_type,
               count(*) FILTER (WHERE f.d IS NOT NULL) AS n_eligible,
               count(*) FILTER (WHERE f.d IS NOT NULL
                                AND coalesce(f.readmitted, false)) AS n_readmitted
        FROM f JOIN adm a USING (admission_id)
        GROUP BY 1
    """).fetchall()
    assert _rows(got, ["admission_type", "n_eligible", "n_readmitted"]) == sorted(
        ((r[0], r[1], r[2]) for r in want), key=_key
    )


def test_readmission_single_patient_exchange(dims):
    out = kpi.readmission_flags(dims["adm"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # known-side window exchange only; the sentinel passthrough
    # branch is a filter + project union leg, never a shuffle
    assert plan.count("Exchange") == 1, plan


# --------------------------------------------------------- census


def test_daily_census_matches_duckdb(dims, duck_dims):
    got = kpi.daily_census(dims["prov"], max_days=60)
    want = duck_dims.execute("""
        WITH bounded AS (
          SELECT careunit_id AS unit, patient_id,
                 CAST(CASE WHEN intime IN (TIMESTAMP '1900-01-01 00:00:00',
                                           TIMESTAMP '2999-12-31 23:59:59')
                      THEN NULL ELSE intime END AS DATE) AS din,
                 CAST(CASE WHEN outtime IN (TIMESTAMP '1900-01-01 00:00:00',
                                            TIMESTAMP '2999-12-31 23:59:59')
                      THEN NULL ELSE outtime END AS DATE) AS dout
          FROM prov
        ), days AS (
          SELECT unit, patient_id, unnest(generate_series(din, dout,
                 INTERVAL 1 DAY))::DATE AS census_date
          FROM bounded
          WHERE din IS NOT NULL AND dout IS NOT NULL
            AND dout >= din AND date_diff('day', din, dout) <= 60
        )
        SELECT unit, census_date,
               count(DISTINCT patient_id) AS census,
               count(*) AS stay_rows
        FROM days GROUP BY 1, 2
    """).fetchall()
    assert _rows(got, ["unit", "census_date", "census", "stay_rows"]) == sorted(
        ((r[0], r[1], r[2], r[3]) for r in want), key=_key
    )


def test_daily_census_overlap_counts_patient_once(spark):
    # one patient, two overlapping stays in the same unit same day:
    # census 1, stay_rows 2 on the overlap day
    rows = [
        (1, 900, "MICU", "2024-03-01 02:00:00", "2024-03-02 12:00:00"),
        (1, 900, "MICU", "2024-03-02 01:00:00", "2024-03-03 01:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "patient_id int, admission_id int, careunit_id string, "
              "intime string, outtime string"
    ).withColumn("intime", F.to_timestamp("intime")).withColumn(
        "outtime", F.to_timestamp("outtime")
    )
    out = {
        (r["unit"], str(r["census_date"])): (r["census"], r["stay_rows"])
        for r in kpi.daily_census(df).collect()
    }
    assert out[("MICU", "2024-03-02")] == (1, 2)
    assert out[("MICU", "2024-03-01")] == (1, 1)
    assert out[("MICU", "2024-03-03")] == (1, 1)


def test_daily_census_sentinel_interval_never_explodes(spark):
    # the 100 TB guard: a still-open (sentinel-discharge) stay and a
    # >max_days outlier must be EXCLUDED, not exploded into ~400k rows
    rows = [
        (1, 900, "CCU", "2024-03-01 00:00:00", kpi.SENTINEL_HIGH),
        (2, 901, "CCU", kpi.SENTINEL_LOW, "2024-03-05 00:00:00"),
        (3, 902, "CCU", "2020-01-01 00:00:00", "2024-03-01 00:00:00"),
        (4, 903, "CCU", "2024-03-01 00:00:00", "2024-03-02 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "patient_id int, admission_id int, careunit_id string, "
              "intime string, outtime string"
    ).withColumn("intime", F.to_timestamp("intime")).withColumn(
        "outtime", F.to_timestamp("outtime")
    )
    out = kpi.daily_census(df, max_days=30)
    assert out.count() == 2  # only the 2-day legitimate stay
    assert out.agg(F.sum("stay_rows")).collect()[0][0] == 2


def test_daily_census_rejects_bad_cap():
    with pytest.raises(ValueError):
        kpi.daily_census(None, max_days=0)


def test_daily_census_on_lineitem_matches_duckdb(spark, sf_dir, duck):
    """Round-10 registration candidate pre-staged with its oracle:
    the SAME kpi.daily_census code on driver tables — "active
    shipments per supplier-day" over a deterministic handling
    window (ship date + linenumber days)."""
    from clinical_data_warehouse_bi_spark.io import read_table
    from clinical_data_warehouse_bi_spark import kpi

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("careunit_id"),
        F.col("l_orderkey").alias("patient_id"),
        F.col("l_shipdate").cast("timestamp").alias("intime"),
        (
            F.col("l_shipdate") + F.make_dt_interval(days=F.col("l_linenumber"))
        ).cast("timestamp").alias("outtime"),
    )
    got = _rows(
        kpi.daily_census(li, max_days=30),
        ["unit", "census_date", "census", "stay_rows"],
    )
    want = sorted(
        ((u, d, c, s) for u, d, c, s in duck.execute("""
            WITH days AS (
              SELECT l_suppkey AS unit, l_orderkey AS pat,
                     unnest(generate_series(
                       CAST(l_shipdate AS DATE),
                       CAST(l_shipdate + l_linenumber * INTERVAL 1 DAY AS DATE),
                       INTERVAL 1 DAY))::DATE AS census_date
              FROM lineitem)
            SELECT unit, census_date,
                   count(DISTINCT pat) AS census, count(*) AS stay_rows
            FROM days GROUP BY 1, 2
        """).fetchall()),
        key=_key,
    )
    got = [(u, str(d), c, s) for u, d, c, s in got]
    want = [(u, str(d), c, s) for u, d, c, s in want]
    assert got == want and len(got) > 1000
