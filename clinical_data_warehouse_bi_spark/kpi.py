"""Clinical BI KPIs over the star-schema DWH: 30-day readmission
and daily unit census.

These are the headline reports a clinical-DWH user runs on the
reference's schema (Leemc7/Clinical-Data-Warehouse-BI DWH.sql's
dim_admissions / dim_provider surface; the reference ships the
warehouse, these are the queries its README positions it for).
Both are single-exchange DataFrame plans:

- readmission: ONE patient-keyed exchange (window lead), bounded
  per-patient state — the classic 30-day all-cause readmission
  measure (CMS/NEJM definition: next index admission within N days
  of discharge).
- daily census: map-side interval-to-day explode + one slim
  (unit, day, patient) exchange. The explode factor is bounded by
  ``max_days`` — an UNGUARDED sequence() over a sentinel interval
  (1900-01-01 .. 2999-12-31) would fabricate ~400k rows per bad row
  at 100 TB, so over-cap intervals are excluded up front (they are
  data errors or still-open stays, not census facts).

Sentinel semantics: the staging layer encodes unknown timestamps as
1900-01-01 / 2999-12-31 (star.build_staging, Stage_area.sql:36-50).
Every KPI here treats a sentinel endpoint as NULL — an unknown
admit time cannot order a readmission chain, and an open discharge
has no census interval yet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.cleanse import SENTINEL_HIGH, SENTINEL_LOW

#: seconds per hour / hours per day as doubles, for exact ratios
_SECONDS_PER_HOUR = 3600.0
_HOURS_PER_DAY = 24.0


def _desentinel(col: str) -> Column:
    """A sentinel-encoded timestamp column with the sentinels
    returned to NULL (per-row CASE, no exchange)."""
    c = F.col(col)
    return F.when(
        c.isin(F.lit(SENTINEL_LOW).cast("timestamp"),
               F.lit(SENTINEL_HIGH).cast("timestamp")),
        F.lit(None).cast("timestamp"),
    ).otherwise(c)


def readmission_flags(
    adm: DataFrame,
    within_days: int = 30,
    patient_col: str = "patient_id",
    admission_col: str = "admission_id",
    admit_col: str = "admittime",
    disch_col: str = "dischtime",
) -> DataFrame:
    """Per admission: ``days_to_readmit`` (double, gap from this
    discharge to the patient's NEXT admission) and ``readmitted``
    (boolean: 0 <= gap <= within_days).

    The 30-day all-cause readmission measure. ONE exchange: a
    patient-keyed window ordered by (admittime, admission_id) —
    bounded per-patient state, no self-join (the naive interval
    self-join is quadratic in a patient's admission count; lead()
    is linear and needs each patient on one executor only, which is
    exactly what clinical skew allows — no patient has 100 TB of
    admissions).

    Rows whose admit time is NULL/sentinel cannot participate in
    the chain (unknown order) and are returned with NULL gap/flag;
    they are excluded from BOTH sides of the lead, not just masked
    afterwards, so an unknown-admit row never becomes some other
    row's phantom "next admission". The exclusion rides the window
    key itself — partition by (patient, admit-is-unknown) — so the
    unknown rows pass through in the SAME single scan and single
    exchange instead of a filter/union pair that would read the
    input twice (an unknown row's lead is another unknown row,
    whose NULL admit makes gap and flag NULL). Overlapping
    admissions (next admit before this discharge — transfer
    artifacts) yield a negative gap and are NOT counted as
    readmissions."""
    admit = _desentinel(admit_col)
    disch = _desentinel(disch_col)
    based = adm.withColumn("__admit", admit).withColumn("__disch", disch)

    w = Window.partitionBy(
        patient_col, F.col("__admit").isNull()
    ).orderBy(F.col("__admit").asc(), F.col(admission_col).asc())
    gap = (
        (F.unix_timestamp(F.lead("__admit").over(w))
         - F.unix_timestamp(F.col("__disch")))
        / F.lit(_SECONDS_PER_HOUR * _HOURS_PER_DAY)
    )
    flagged = based.withColumn("days_to_readmit", gap).withColumn(
        "readmitted",
        F.when(
            F.col("days_to_readmit").isNotNull(),
            (F.col("days_to_readmit") >= 0)
            & (F.col("days_to_readmit") <= F.lit(float(within_days))),
        ),
    )
    return flagged.drop("__admit", "__disch")


def readmission_rate(
    adm: DataFrame,
    group_cols: list[str],
    within_days: int = 30,
    **kw,
) -> DataFrame:
    """Readmission rate per group: eligible = discharged admissions
    with a known next-or-no-next chain position (admit known);
    readmissions / eligible as a double. Conditional aggregation —
    the flags' patient exchange plus ONE group exchange."""
    flags = readmission_flags(adm, within_days=within_days, **kw)
    # eligible: discharged, admit known (chain position defined).
    # A last admission (no next) IS eligible and not readmitted.
    admit = _desentinel(kw.get("admit_col", "admittime"))
    disch = _desentinel(kw.get("disch_col", "dischtime"))
    is_eligible = (admit.isNotNull() & disch.isNotNull()).cast("int")
    is_readmit = (F.coalesce(F.col("readmitted"), F.lit(False)).cast("int")
                  * is_eligible)
    return (
        flags.groupBy(*group_cols)
        .agg(
            F.sum(is_eligible).alias("n_eligible"),
            F.sum(is_readmit).alias("n_readmitted"),
        )
        .withColumn(
            "readmission_rate",
            F.when(
                F.col("n_eligible") > 0,
                F.col("n_readmitted") / F.col("n_eligible"),
            ),
        )
    )


def daily_census(
    stays: DataFrame,
    unit_col: str = "careunit_id",
    patient_col: str = "patient_id",
    in_col: str = "intime",
    out_col: str = "outtime",
    max_days: int = 365,
) -> DataFrame:
    """Distinct patients present per (unit, calendar day): the bed
    occupancy / daily census report.

    Plan: per-row `sequence(to_date(in), to_date(out))` explode —
    map-side, factor bounded by ``max_days`` — then ONE exchange of
    the slim (unit, day, patient) triple with a distinct aggregate
    (map-side partial dedup applies). A patient present in a unit
    on a day counts once however many overlapping stays put them
    there (the fixtures deliberately overlap transfers).

    The ``max_days`` guard is the scale contract: a sentinel/open
    interval (1900..2999) would otherwise explode into ~400k rows
    PER BAD ROW. Intervals with NULL/sentinel endpoints, negative
    duration, or duration > max_days are excluded up front — they
    are unclosed stays or entry errors, not census facts."""
    if max_days <= 0:
        raise ValueError("max_days must be positive")
    tin = _desentinel(in_col)
    tout = _desentinel(out_col)
    bounded = (
        stays.withColumn("__in", F.to_date(tin))
        .withColumn("__out", F.to_date(tout))
        .filter(
            F.col("__in").isNotNull()
            & F.col("__out").isNotNull()
            & (F.col("__out") >= F.col("__in"))
            & (F.datediff("__out", "__in") <= F.lit(int(max_days)))
        )
    )
    days = bounded.select(
        F.col(unit_col).alias("unit"),
        F.col(patient_col).alias("__pat"),
        F.explode(F.sequence("__in", "__out")).alias("census_date"),
    )
    return (
        days.groupBy("unit", "census_date")
        .agg(
            F.countDistinct("__pat").alias("census"),
            F.count(F.lit(1)).alias("stay_rows"),
        )
    )
