"""Deterministic MIMIC-IV-shaped synthetic sources (FIXTURES.md
section A): seeded, no I/O. Drives both the end-to-end clinical
pipeline tests and bench.py's pipeline_star entry (`n_patients`
scales the corpus)."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import local_frame

LAB_LABELS = [
    "Sodium", "Potassium", "Bicarbonate", "Chloride", "pH",
    "Base Excess", "Anion Gap", "Sodium, Whole Blood", "Potassium, Urine",
    "Hemoglobin", "Creatinine", "Glucose", "Platelet Count", "WBC",
]
ICD_TITLES = [
    ("E870", "Hyperosmolality and hypernatremia"),
    ("E871", "Hypo-osmolality and hyponatremia"),
    ("E872", "Acidosis"),
    ("E873", "Alkalosis"),
    ("E875", "Hyperkalemia"),
    ("E876", "Hypokalemia"),
    ("E878", "Other electrolyte and fluid disorders"),
    ("I10", "Essential primary hypertension"),
    ("J189", "Pneumonia unspecified organism"),
    ("K219", "Gastro-esophageal reflux disease"),
    ("Z515", "Encounter for palliative care"),
]
CAREUNITS = ["MICU", "SICU", "CCU", "Med/Surg", None]


def _ts(base: datetime, hours: float) -> str:
    return (base + timedelta(hours=hours)).strftime("%Y-%m-%d %H:%M:%S")


def make_sources(spark, n_patients: int = 120, seed: int = 1234):
    rng = random.Random(seed)
    base = datetime(2024, 3, 1)

    patients = [
        (pid, rng.choice(["M", "F"]), None if rng.random() < 0.9 else "2024-06-01")
        for pid in range(1, n_patients + 1)
    ]

    admissions, transfers, labevents, diagnoses, omr = [], [], [], [], []
    hadm = 1000
    for pid, _, _ in patients:
        for _ in range(rng.randint(1, 3)):
            hadm += 1
            start_h = rng.uniform(0, 24 * 60)
            los_h = rng.uniform(12, 24 * 8)
            admit = _ts(base, start_h)
            disch = _ts(base, start_h + los_h)
            # ~5% null/blank timestamps exercise the sentinel CASE
            admissions.append((
                pid, hadm, rng.choice(["EMERGENCY", "ELECTIVE", "URGENT"]),
                None if rng.random() < 0.05 else ("" if rng.random() < 0.05 else admit),
                None if rng.random() < 0.05 else disch,
                rng.choice(["Medicare", "Private", "Medicaid"]),
            ))
            # transfers: 1-3 stays inside the admission; occasionally
            # overlapping to exercise multi-match interval dedup
            t0 = start_h
            for _ in range(rng.randint(1, 3)):
                t1 = t0 + rng.uniform(4, 48)
                transfers.append((
                    pid, hadm, rng.choice(CAREUNITS),
                    None if rng.random() < 0.05 else _ts(base, t0),
                    None if rng.random() < 0.05 else _ts(base, t1),
                ))
                t0 = t1 - rng.uniform(0, 6)  # overlap window
            # lab events inside the admission
            for _ in range(rng.randint(2, 10)):
                labevents.append((
                    None if rng.random() < 0.04 else pid,
                    None if rng.random() < 0.04 else hadm,
                    rng.randint(1, len(LAB_LABELS)),
                    None if rng.random() < 0.04
                    else _ts(base, start_h + rng.uniform(0, los_h)),
                    round(rng.uniform(1, 150), 1),
                    rng.choice(["mmol/L", "mEq/L", None]),
                ))
            # diagnoses; some hadm_ids absent from admissions
            for _ in range(rng.randint(1, 4)):
                diagnoses.append((
                    None if rng.random() < 0.04 else pid,
                    hadm + 100000 if rng.random() < 0.05 else hadm,
                    rng.choice(ICD_TITLES)[0] if rng.random() < 0.9 else "X999",
                ))
        # OMR: result_name variants exercising TRIM(LOWER()) join
        for _ in range(rng.randint(0, 4)):
            name = rng.choice(["Sodium", " sodium ", "PH", "Potassium", "BMI", "chloride"])
            omr.append((
                None if rng.random() < 0.04 else pid,
                None if rng.random() < 0.04 else _ts(base, rng.uniform(0, 24 * 90)),
                name,
                rng.choice(["7.35", "140", "4.1", "120/80", "high", "98.6"]),
            ))

    def df(rows, schema):
        return local_frame(spark, rows, schema)

    return {
        "patients": df(patients, "subject_id int, gender string, dod string").withColumn(
            "dod", F.col("dod").cast("date")
        ),
        "admissions": df(
            admissions,
            "subject_id int, hadm_id int, admission_type string, "
            "admittime string, dischtime string, insurance string",
        ),
        "transfers": df(
            transfers,
            "subject_id int, hadm_id int, careunit string, intime string, outtime string",
        ),
        "d_labitems": df(
            [(i + 1, lbl) for i, lbl in enumerate(LAB_LABELS)], "itemid int, label string"
        ),
        "d_icd_diagnoses": df(ICD_TITLES, "icd_code string, long_title string"),
        "labevents": df(
            labevents,
            "subject_id int, hadm_id int, itemid int, charttime string, "
            "valuenum double, valueuom string",
        ).withColumn(
            "charttime",
            F.col("charttime").cast("timestamp"),
        ),
        "diagnoses_icd": df(diagnoses, "subject_id int, hadm_id int, icd_code string"),
        "omr": df(
            omr, "subject_id int, chartdate string, result_name string, result_value string"
        ).withColumn(
            "chartdate",
            F.col("chartdate").cast("timestamp"),
        ),
    }
