"""One A/B harness: a Spark query against its DuckDB oracle, a bench
composition against its DuckDB mirror, 1x data against an N-fold
replica, or this checkout against another one.

Each arm is a long-lived worker process (a Spark session or a DuckDB
connection) serving every name in turn: one untimed warm-up and
checksum per name, then --pairs timed runs alternating with the other
arms, the side that goes first swapping every pair. A run records wall
time, wall time without hypervisor steal and, read after the clock
stops, its Spark job group's executor CPU, tasks, shuffle and spill
plus the Python-worker CPU (perfbench/tracing); a DuckDB arm's CPU is
its process CPU. Arms on the same data must agree (a query checksums
check_parity.normalize of its rows, pipeline_star its 8 DWH relations'
natural-key rows (star_checksum), pipeline_corpus_full its released
doc_ids), else the exit status is 1.

Arms: spark@1x; duck@1x with --duckdb (the oracle, or the DuckDB
mirror); both again on the N-fold replica with --factor N (for
pipeline_star, N times the patients); the Spark arms from another
checkout, e.g. a parent exported with git archive, with --tree DIR.
Replicas are built once per run in one temp dir, removed at exit.
--planted swaps in the planted-duplication corpus; --update-baseline
writes BASELINE.md's BENCH_COMPARE block (implies --duckdb). --pairs 2
is BENCH_COMPARE's best-of-2, --pairs 10 the A/B a claim needs.

Usage: python scripts/ab.py [--sf-dir DIR] [--pairs N] [--duckdb]
    [--factor N] [--planted] [--tree DIR] [--update-baseline] [name ...]
Names default to bench.BENCH_QUERIES. Best / median / IQR per arm go
to stderr, every run to the one JSON line on stdout.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import multiprocessing as mp
import os
import shutil
import statistics
import sys
import tempfile
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Nothing at module level imports the engine: a worker for another
# checkout puts that tree first on sys.path before its first import.

STAR, CORPUS, FLOOR = "pipeline_star", "pipeline_corpus_full", "spark_floor"


def _digest(n: int, obj) -> str:
    return f"{n}:{hashlib.sha256(repr(obj).encode()).hexdigest()[:16]}"


def _rows_checksum(pdf) -> str:
    from scripts.check_parity import normalize

    cols, rows = normalize(pdf)
    return _digest(len(rows), (cols, rows))


#: key columns to shift per replica so per-key cardinalities are
#: preserved exactly (referential integrity included: lineitem's
#: orderkey shifts in lockstep with orders')
SHIFT_KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": [],
    "part": [],
    "region": [],
    "nation": [],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def replicate(spark, factor: int, base: str, work: str) -> str:
    """``base`` N-fold under the run's ``work`` dir, keys shifted by
    replica * (max_key + 1): the row count scales, the per-key group
    and cluster sizes do not."""
    from pyspark.sql import functions as F

    out = f"{work}/{os.path.basename(base)}_{factor}x"
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    # factors past 64 compose from a smaller replica (4x per stage,
    # recursively materialized): a single-stage 1024x build would
    # plan a 1024-branch union per table — deep-plan analysis cost
    # and one giant write job, where staged 4x replications of an
    # already-written replica stay shallow. Key shifts are relative
    # to each source's own max, so composition preserves referential
    # integrity and per-key cardinality exactly like one stage.
    if factor > 64 and factor % 4 == 0:
        src = replicate(spark, factor // 4, base, work)
        mult = 4
    else:
        src, mult = base, factor
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for t, keys in SHIFT_KEYS.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if mult > 1 and keys:
            span = {
                k: (df.agg(F.max(k)).first()[0] or 0) + 1 for k in keys
            }
            parts = []
            for r in range(mult):
                p = df
                for k in keys:
                    p = p.withColumn(k, F.col(k) + F.lit(r * span[k]))
                parts.append(p)
            reps = parts[0]
            for p in parts[1:]:
                reps = reps.unionByName(p)
        else:
            # keyless dims (supplier/part/region/nation) keep their
            # identity: replicating them would break FK semantics,
            # and the queries treat them as broadcast dims anyway
            reps = df
        reps.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    open(marker, "w").write("ok")
    return out


#: planted-duplication corpus knobs (round-14 verdict item 2): the
#: N-fold replica is DEGENERATE for substring dedup — every doc
#: occurs N times, so output spans grow with N and the enumeration
#: worst case dominates, a shape real pipelines never see after
#: exact dedup. The representative corpus is unique synthetic docs
#: with a small planted overlap rate.
PLANTED_BASE_DOCS = 5_000  # = sf0.1 documents rows per 1x
PLANTED_DUP_PCT = 5        # % of docs carrying one shared passage
PLANTED_PASSAGE_TOKENS = 30
PLANTED_VOCAB = 30_000
PLANTED_SEED = 101


def replicate_planted(spark, factor: int, base: str, work: str) -> str:
    """documents := factor * PLANTED_BASE_DOCS UNIQUE synthetic docs
    (20-90 tokens, drawn per-doc-deterministically from a 30k vocab,
    so no 12-token window repeats by chance) with PLANTED_DUP_PCT %
    of docs paired up to share one PLANTED_PASSAGE_TOKENS-token
    passage at independent offsets — the post-exact-dedup corpus
    shape where substring dedup's output is sparse and planted, not
    volume-proportional. Non-document tables symlink to ``base``'s
    so the oracle connection binds every view."""
    import numpy as np

    out = f"{work}/planted_{os.path.basename(base)}_{factor}x"
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    n_docs = PLANTED_BASE_DOCS * factor
    n_planted = (n_docs * PLANTED_DUP_PCT // 100) & ~1  # even: full pairs

    def gen(batches):
        import pandas as pd

        vocab = np.array([f"w{j}" for j in range(PLANTED_VOCAB)])
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            texts = []
            for d in ids:
                rng = np.random.RandomState(
                    (PLANTED_SEED + int(d)) % (2**31 - 1)
                )
                toks = list(vocab[rng.randint(0, PLANTED_VOCAB,
                                              rng.randint(20, 91))])
                if d < n_planted:
                    # pair (2k, 2k+1) shares passage k verbatim
                    prng = np.random.RandomState(
                        (PLANTED_SEED * 7 + int(d) // 2) % (2**31 - 1)
                    )
                    passage = list(
                        vocab[prng.randint(0, PLANTED_VOCAB,
                                           PLANTED_PASSAGE_TOKENS)]
                    )
                    at = int(rng.randint(0, len(toks) + 1))
                    toks = toks[:at] + passage + toks[at:]
                text = " ".join(toks)
                texts.append(text)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "lang": "en",
                    "source": "synthetic-planted",
                    "n_chars": [len(t) for t in texts],
                }
            )

    spark.range(n_docs).repartition(64).mapInPandas(
        gen, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    for t in SHIFT_KEYS:
        if t != "documents":
            os.symlink(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    open(marker, "w").write("ok")
    return out



# ----------------------------------------------- DuckDB mirrors
# pipeline_star's DuckDB side is the declarative CTAS chain a DuckDB
# user would write, mirroring Stage_area.sql / DWH.sql as star.py does.
# Its checksum reads natural keys, so it does not depend on either
# engine's surrogate-key numbering.

LAB_KW = ["sodium", "potassium", "bicarbonate", "chloride", "ph", "base excess",
          "anion gap"]
DIAG_KW = ["hypo", "hyper", "acidosis", "alkalosis", "electrolyte", "sodium",
           "potassium", "bicarbonate", "ph"]
OMR_KW = ["sodium", "potassium", "bicarbonate", "chloride", "anion gap", "ph"]


def _kw(col: str, kws: list[str]) -> str:
    return "(" + " OR ".join(f"lower({col}) LIKE '%{k}%'" for k in kws) + ")"


def _sentinel(col: str, sentinel: str) -> str:
    return (
        f"CASE WHEN {col} IS NULL OR trim({col}) = '' "
        f"THEN TIMESTAMP '{sentinel}' ELSE CAST({col} AS TIMESTAMP) END"
    )


#: the staging + DWH build as one DuckDB script over views
#: patients/admissions/transfers/d_labitems/d_icd_diagnoses/
#: labevents/diagnoses_icd/omr (cites the same Stage_area.sql /
#: DWH.sql lines star.py implements); also the value oracle that
#: tests/test_star_pipeline.py checks star.py's 16 relations against
DUCK_PIPELINE = f"""
-- Stage_area.sql:25-30 — project + rename
CREATE OR REPLACE TABLE s_dim_patients AS
SELECT subject_id AS patient_id, gender, dod FROM patients;

-- 36-50 — sentinel timestamps
CREATE OR REPLACE TABLE s_dim_admissions AS
SELECT subject_id AS patient_id, hadm_id AS admission_id, admission_type,
       {_sentinel('admittime', '1900-01-01 00:00:00')} AS admittime,
       {_sentinel('dischtime', '2999-12-31 23:59:59')} AS dischtime,
       insurance
FROM admissions;

-- 56-70 — provider dim, ROW_NUMBER surrogate
CREATE OR REPLACE TABLE s_dim_provider AS
SELECT row_number() OVER (ORDER BY patient_id NULLS FIRST,
                          admission_id NULLS FIRST, intime NULLS FIRST,
                          careunit_id NULLS FIRST) AS provider_id,
       patient_id, admission_id, careunit_id, intime, outtime
FROM (SELECT subject_id AS patient_id, hadm_id AS admission_id,
             careunit AS careunit_id,
             {_sentinel('intime', '1900-01-01 00:00:00')} AS intime,
             {_sentinel('outtime', '2999-12-31 23:59:59')} AS outtime
      FROM transfers);

-- 76-113 — concept dim: keyword extracts + Unknown fallback
CREATE OR REPLACE TABLE s_dim_concepts AS
WITH u AS (
  SELECT 1 AS b, 'Lab' AS concept_type, label AS concept_name,
         CAST(itemid AS VARCHAR) AS code, label AS description
  FROM d_labitems WHERE {_kw('label', LAB_KW)}
  UNION ALL
  SELECT 2, 'Diagnosis', long_title, icd_code, long_title
  FROM d_icd_diagnoses WHERE {_kw('long_title', DIAG_KW)}
  UNION ALL
  SELECT 3, 'Unknown', 'Unknown concept', 'UNKNOWN',
         'No matching concept found')
SELECT row_number() OVER (ORDER BY b, code NULLS FIRST)
         AS clinical_concept_id,
       concept_type, concept_name, code, description
FROM u;

-- 133-147 — OMR keyword filter + regex-guarded numeric parse
CREATE OR REPLACE TABLE s_omr_filtered AS
SELECT *, CASE WHEN regexp_matches(result_value, '^[0-9]+(\\.[0-9]+)?$')
               THEN CAST(CAST(result_value AS DECIMAL(10,2)) AS FLOAT)
          END AS result_value_numeric
FROM omr WHERE {_kw('result_name', OMR_KW)};

-- 153-222 — three conformed fact branches + AUTO_INCREMENT key
CREATE OR REPLACE TABLE s_fact_base AS
WITH lab_events AS (
  SELECT 1 AS b, le.subject_id AS patient_id, le.hadm_id AS admission_id,
         le.charttime AS event_datetime, c.clinical_concept_id,
         CAST(le.valuenum AS VARCHAR) AS measurement_value,
         le.valueuom AS measurement_unit,
         'lab' AS event_source_type, le.charttime AS event_date
  FROM labevents le
  LEFT JOIN (SELECT * FROM s_dim_concepts WHERE concept_type = 'Lab') c
    ON CAST(le.itemid AS VARCHAR) = c.code
  WHERE le.subject_id IS NOT NULL AND le.hadm_id IS NOT NULL
    AND le.charttime IS NOT NULL),
diag_events AS (
  SELECT 2, d.subject_id, d.hadm_id,
         COALESCE(a.admittime, TIMESTAMP '1900-01-01 00:00:00'),
         c.clinical_concept_id, NULL, NULL, 'diagnosis',
         CAST(NULL AS TIMESTAMP)
  FROM diagnoses_icd d
  LEFT JOIN s_dim_admissions a ON d.hadm_id = a.admission_id
  LEFT JOIN (SELECT clinical_concept_id, code FROM s_dim_concepts
             WHERE concept_type = 'Diagnosis') c ON d.icd_code = c.code
  WHERE d.subject_id IS NOT NULL AND d.hadm_id IS NOT NULL),
omr_events AS (
  SELECT 3, o.subject_id, CAST(NULL AS INTEGER), o.chartdate,
         c.clinical_concept_id, CAST(o.result_value_numeric AS VARCHAR),
         NULL, 'omr', o.chartdate
  FROM s_omr_filtered o
  LEFT JOIN (SELECT clinical_concept_id,
                    trim(lower(concept_name)) AS norm_name
             FROM s_dim_concepts WHERE concept_type = 'Lab') c
    ON trim(lower(o.result_name)) = c.norm_name
  WHERE o.subject_id IS NOT NULL AND o.chartdate IS NOT NULL),
u AS (SELECT * FROM lab_events UNION ALL SELECT * FROM diag_events
      UNION ALL SELECT * FROM omr_events)
SELECT row_number() OVER (ORDER BY b, patient_id NULLS FIRST,
                          event_datetime NULLS FIRST,
                          clinical_concept_id NULLS FIRST,
                          measurement_value NULLS FIRST)
         AS disorder_event_id,
       patient_id, admission_id, event_datetime, clinical_concept_id,
       measurement_value, measurement_unit, event_source_type, event_date
FROM u;

-- UPDATE 1 (225-231): unknown-concept default
UPDATE s_fact_base SET clinical_concept_id =
  (SELECT clinical_concept_id FROM s_dim_concepts
   WHERE concept_name = 'Unknown concept')
WHERE clinical_concept_id IS NULL;

-- UPDATE 2 (237-245): careunit backfill via interval pick-first
-- (raw transfers, no sentinels — NULL bounds never satisfy BETWEEN)
CREATE OR REPLACE TABLE s_fact_cu AS
SELECT * EXCLUDE (t_careunit, rn), t_careunit AS careunit_id
FROM (
  SELECT f.*, t.careunit AS t_careunit,
         row_number() OVER (
           PARTITION BY f.disorder_event_id
           ORDER BY CAST(t.intime AS TIMESTAMP) NULLS LAST,
                    t.careunit NULLS LAST) AS rn
  FROM s_fact_base f
  LEFT JOIN transfers t
    ON f.patient_id = t.subject_id AND f.admission_id = t.hadm_id
   AND f.event_datetime BETWEEN CAST(t.intime AS TIMESTAMP)
                            AND CAST(t.outtime AS TIMESTAMP))
WHERE rn = 1;

-- UPDATE 3 (251-256): provider via interval pick-first over the
-- sentinel-filled provider dim; natural-column order first
CREATE OR REPLACE TABLE s_fact_prov AS
SELECT * EXCLUDE (p_provider_id, rn), p_provider_id AS provider_id
FROM (
  SELECT f.*, p.provider_id AS p_provider_id,
         row_number() OVER (
           PARTITION BY f.disorder_event_id
           ORDER BY p.intime NULLS LAST, p.outtime NULLS LAST,
                    p.careunit_id NULLS LAST, p.provider_id NULLS LAST)
           AS rn
  FROM s_fact_cu f
  LEFT JOIN s_dim_provider p
    ON f.patient_id = p.patient_id AND f.admission_id = p.admission_id
   AND f.event_datetime BETWEEN p.intime AND p.outtime)
WHERE rn = 1;

-- 262-283 — junk dim from the enriched fact + null-safe link-back
CREATE OR REPLACE TABLE s_dim_junk AS
SELECT row_number() OVER (ORDER BY event_source_type NULLS FIRST,
                          measurement_unit NULLS FIRST,
                          careunit_id NULLS FIRST) AS junk_id,
       event_source_type, measurement_unit, careunit_id
FROM (SELECT DISTINCT event_source_type, measurement_unit, careunit_id
      FROM s_fact_prov);

CREATE OR REPLACE TABLE s_fact AS
SELECT f.disorder_event_id, f.patient_id, f.admission_id,
       f.event_datetime, f.careunit_id, f.clinical_concept_id,
       f.measurement_value, f.measurement_unit, f.event_source_type,
       f.event_date, j.junk_id, f.provider_id
FROM s_fact_prov f
LEFT JOIN s_dim_junk j
  ON f.event_source_type = j.event_source_type
 AND f.measurement_unit IS NOT DISTINCT FROM j.measurement_unit
 AND f.careunit_id IS NOT DISTINCT FROM j.careunit_id;

-- 289-301 — timestamp-grain date dim
CREATE OR REPLACE TABLE s_dim_date AS
SELECT DISTINCT event_datetime,
       month(event_datetime) AS month, year(event_datetime) AS year,
       isodow(event_datetime) AS day_of_week,
       dayname(event_datetime) AS day_name,
       monthname(event_datetime) AS month_name,
       dayofweek(event_datetime) IN (0, 6) AS is_weekend
FROM s_fact WHERE event_datetime IS NOT NULL;

-- DWH.sql — DISTINCT-promote every table
CREATE OR REPLACE TABLE d_dim_patients AS SELECT DISTINCT * FROM s_dim_patients;
CREATE OR REPLACE TABLE d_dim_admissions AS SELECT DISTINCT * FROM s_dim_admissions;
CREATE OR REPLACE TABLE d_dim_provider AS SELECT DISTINCT * FROM s_dim_provider;
CREATE OR REPLACE TABLE d_dim_concepts AS SELECT DISTINCT * FROM s_dim_concepts;
CREATE OR REPLACE TABLE d_dim_date AS SELECT DISTINCT * FROM s_dim_date;
CREATE OR REPLACE TABLE d_dim_junk AS SELECT DISTINCT * FROM s_dim_junk;

-- 111-118 — fact promote: DISTINCT over non-key cols, fresh key
CREATE OR REPLACE TABLE d_fact AS
SELECT row_number() OVER (ORDER BY patient_id NULLS FIRST,
                          admission_id NULLS FIRST,
                          event_datetime NULLS FIRST,
                          careunit_id NULLS FIRST,
                          clinical_concept_id NULLS FIRST,
                          measurement_value NULLS FIRST,
                          measurement_unit NULLS FIRST,
                          event_source_type NULLS FIRST,
                          junk_id NULLS FIRST,
                          provider_id NULLS FIRST) AS disorder_event_id,
       *
FROM (SELECT DISTINCT patient_id, admission_id, event_datetime,
             careunit_id, clinical_concept_id, measurement_value,
             measurement_unit, event_source_type, junk_id, provider_id
      FROM s_fact);

-- 124-135 — dim_date top-up (anti-join insert)
INSERT INTO d_dim_date
SELECT event_datetime,
       month(event_datetime), year(event_datetime),
       isodow(event_datetime), dayname(event_datetime),
       monthname(event_datetime), dayofweek(event_datetime) IN (0, 6)
FROM (SELECT DISTINCT event_datetime FROM d_fact
      WHERE event_datetime IS NOT NULL
        AND event_datetime NOT IN (SELECT event_datetime FROM d_dim_date));

-- 150-177 — orphan cleanup x6 (NULL FKs kept)
DELETE FROM d_fact WHERE patient_id IS NOT NULL
  AND patient_id NOT IN (SELECT patient_id FROM d_dim_patients);
DELETE FROM d_fact WHERE admission_id IS NOT NULL
  AND admission_id NOT IN (SELECT admission_id FROM d_dim_admissions);
DELETE FROM d_fact WHERE clinical_concept_id IS NOT NULL
  AND clinical_concept_id NOT IN
    (SELECT clinical_concept_id FROM d_dim_concepts);
DELETE FROM d_fact WHERE event_datetime IS NOT NULL
  AND event_datetime NOT IN (SELECT event_datetime FROM d_dim_date);
DELETE FROM d_fact WHERE junk_id IS NOT NULL
  AND junk_id NOT IN (SELECT junk_id FROM d_dim_junk);
DELETE FROM d_fact WHERE provider_id IS NOT NULL
  AND provider_id NOT IN (SELECT provider_id FROM d_dim_provider);

-- 203-210 — pre-aggregation
CREATE OR REPLACE TABLE d_agg AS
SELECT admission_id, count(*) AS total_events,
       count(DISTINCT clinical_concept_id) AS unique_concepts,
       count(DISTINCT event_source_type) AS different_sources
FROM d_fact GROUP BY admission_id;
"""

SOURCES = ("patients", "admissions", "transfers", "d_labitems",
           "d_icd_diagnoses", "labevents", "diagnoses_icd", "omr")

#: each star relation -> the DUCK_PIPELINE table holding the same
#: relation as the reference's own SQL builds it
DUCK_TABLES = {
    "stage": {
        "dim_patients": "s_dim_patients",
        "dim_admissions": "s_dim_admissions",
        "dim_provider": "s_dim_provider",
        "dim_concepts": "s_dim_concepts",
        "omr_filtered": "s_omr_filtered",
        "dim_date": "s_dim_date",
        "dim_junk_disorder_event": "s_dim_junk",
        "fact_disorder_events": "s_fact",
    },
    "dwh": {
        "dim_patients": "d_dim_patients",
        "dim_admissions": "d_dim_admissions",
        "dim_provider": "d_dim_provider",
        "dim_concepts": "d_dim_concepts",
        "dim_date": "d_dim_date",
        "dim_junk_disorder_event": "d_dim_junk",
        "fact_disorder_events": "d_fact",
        "agg_disorders_per_admission": "d_agg",
    },
}


def natural_key_sql(name: str, tables: dict[str, str]) -> str:
    """``name``'s rows with every surrogate key the two engines assign
    differently replaced by what it stands for: the dims lose their
    key, and the fact's concept and provider FKs resolve through the
    same layer's dims. junk_id stays: both engines number the junk
    dim with the same ordered row_number."""
    t = tables[name]
    if name == "dim_provider":
        return f"SELECT * EXCLUDE (provider_id) FROM {t}"
    if name == "dim_concepts":
        return f"SELECT * EXCLUDE (clinical_concept_id) FROM {t}"
    if name == "fact_disorder_events":
        return f"""
            SELECT f.* EXCLUDE (disorder_event_id, clinical_concept_id, provider_id),
                   c.concept_type, c.code,
                   p.patient_id AS p_patient_id, p.admission_id AS p_admission_id,
                   p.careunit_id AS p_careunit_id, p.intime AS p_intime,
                   p.outtime AS p_outtime
            FROM {t} f
            LEFT JOIN {tables["dim_concepts"]} c USING (clinical_concept_id)
            LEFT JOIN {tables["dim_provider"]} p USING (provider_id)"""
    return f"SELECT * FROM {t}"


def comparable(con, sql: str) -> tuple[list[str], str]:
    """``sql``'s column names, and ``sql`` with its columns sorted and
    its timestamps cast to UTC wall-clock TIMESTAMPs (Spark's arrive
    tz-aware, DuckDB's naive)."""
    cols = sorted(con.execute(f"DESCRIBE {sql}").fetchall())
    select = ", ".join(
        f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if ty.startswith("TIMESTAMP") else f'"{c}"'
        for c, ty, *_ in cols
    )
    return [c for c, *_ in cols], f"SELECT {select} FROM ({sql})"


def star_checksum(con, tables: dict[str, str]) -> str:
    """pipeline_star's checksum: a digest of the 8 DWH relations'
    natural-key rows (``tables`` names them in ``con``, a DuckDB
    connection under UTC), each as sorted text rows, so it covers
    values and both engines' arms compute it with the same SQL."""
    n, parts = 0, []
    for name in DUCK_TABLES["dwh"]:
        cols, sql = comparable(con, natural_key_sql(name, tables))
        text = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
        rows = con.execute(f"SELECT {text} FROM ({sql}) ORDER BY ALL").fetchall()
        n += len(rows)
        parts.append((name, cols, rows))
    return _digest(n, parts)


L = 12  # decontamination window + substring span length (bench_corpus_full)


def duck_mirror_sql(stop_list_sql: str) -> str:
    """The release-set computation as one DuckDB statement over a
    ``documents`` view: returns the released doc_ids. Mirrors
    text.remove_boilerplate (min_frac=0.5, min_docs=3),
    corpus.build_corpus_release's quality gate + keep-min-doc_id
    exact dedup, and suffix.probe_suffix_index's window match
    against the doc_id % 50 = 0 reference slice (the
    bench_corpus_full held-out convention), then enumerates the
    released docs' duplicate windows (the strip stage's dominant
    cost) so the timed work is comparable."""
    toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    return f"""
    WITH base AS (
      SELECT doc_id, source,
             list_filter(string_split(text, chr(10)),
                         x -> length(trim(x)) > 0) AS lines
      FROM documents WHERE doc_id % 50 <> 0),
    ln AS (
      SELECT doc_id, source, i, lines[i] AS line
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(lines))) AS i) g),
    per_line AS (
      SELECT source, line, count(DISTINCT doc_id) AS n_docs_with
      FROM ln GROUP BY source, line),
    per_src AS (SELECT source, count(*) AS n_docs FROM base GROUP BY source),
    boiler AS (
      SELECT p.source, p.line
      FROM per_line p JOIN per_src s USING (source)
      WHERE s.n_docs >= 3 AND p.n_docs_with > 0.5 * s.n_docs),
    keptl AS (
      SELECT l.doc_id, l.source, l.i, l.line
      FROM ln l LEFT JOIN boiler bo
        ON bo.source = l.source AND bo.line = l.line
      WHERE bo.line IS NULL),
    rebuilt0 AS (
      SELECT doc_id, source,
             string_agg(line, chr(10) ORDER BY i) AS text
      FROM keptl GROUP BY doc_id, source),
    rebuilt AS (
      SELECT b.doc_id, b.source, coalesce(r.text, '') AS text
      FROM base b LEFT JOIN rebuilt0 r USING (doc_id, source)),
    scored AS (
      SELECT doc_id, text, len(toks) AS n_tokens,
             0.4 * (CAST(len(list_intersect(toks, {stop_list_sql})) AS DOUBLE)
                    / greatest(len(list_distinct(toks)), 1))
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                    / greatest(len(toks), 1))
           + 0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS q
      FROM (SELECT doc_id, text, {toks} AS toks FROM rebuilt) raw),
    kept AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fingerprint
      FROM scored WHERE n_tokens >= 30 AND q >= 0.33),
    winners AS (
      SELECT min(doc_id) AS doc_id FROM kept GROUP BY fingerprint),
    rel0 AS (SELECT k.doc_id, k.text FROM kept k JOIN winners USING (doc_id)),
    -- decontamination: reference windows come from the RAW held-out
    -- slice (the index is built before the pipeline runs)
    reft AS (SELECT doc_id, {toks} AS toks FROM documents
             WHERE doc_id % 50 = 0),
    refw AS (
      SELECT DISTINCT array_to_string(toks[i:i+{L - 1}], chr(1)) AS win
      FROM reft, LATERAL (SELECT unnest(generate_series(
             1, len(toks) - {L} + 1)) AS i) g
      WHERE len(toks) >= {L}),
    relt AS (SELECT doc_id, {toks} AS toks FROM rel0),
    relw AS (
      SELECT doc_id, i, array_to_string(toks[i:i+{L - 1}], chr(1)) AS win
      FROM relt, LATERAL (SELECT unnest(generate_series(
             1, len(toks) - {L} + 1)) AS i) g
      WHERE len(toks) >= {L}),
    contaminated AS (
      SELECT DISTINCT w.doc_id FROM relw w JOIN refw USING (win)),
    released AS (
      SELECT r.doc_id FROM rel0 r LEFT JOIN contaminated c USING (doc_id)
      WHERE c.doc_id IS NULL),
    -- strip-stage dominant cost: duplicate-window detection over the
    -- released docs (count only; membership already decided)
    relw2 AS (SELECT w.doc_id, w.win FROM relw w JOIN released USING (doc_id)),
    dupw AS (SELECT win FROM relw2 GROUP BY win HAVING count(*) >= 2),
    spanwork AS (SELECT count(*) AS n FROM relw2 JOIN dupw USING (win))
    SELECT (SELECT n FROM spanwork) AS span_rows,
           list_sort(list(doc_id)) AS released_ids
    FROM released
    """



@dataclass(frozen=True)
class Arm:
    """One engine on one data set, from this checkout or ``tree``."""

    engine: str  # "spark" or "duck"
    sf_dir: str
    factor: int = 1
    planted: bool = False
    tree: str | None = None

    @property
    def label(self) -> str:
        return f"{'tree:' if self.tree else ''}{self.engine}@{self.factor}x"

    def data_dir(self, work: str, spark=None) -> str:
        """Built under the run's ``work`` dir by the Spark arm, which
        runs before DuckDB's."""
        if self.planted:
            return replicate_planted(spark, self.factor, self.sf_dir, work)
        if self.factor == 1:
            return self.sf_dir
        return replicate(spark, self.factor, self.sf_dir, work)

    def star(self, work: str) -> tuple[float, str]:
        """pipeline_star's sf (sf_dir's, N-fold) and its DuckDB fixture dir."""
        sf = float(self.sf_dir.rstrip("/").rsplit("sf", 1)[-1]) * self.factor
        return sf, f"{work}/star_sf{sf:g}"


def _substring_w8(spark, sf_dir):
    """q_substring_dedup at the corpus release's winnow_w=8 (no SQL
    twin: the guaranteed match length is L+w-1, not L)."""
    from clinical_data_warehouse_bi_spark.io import read_table
    from clinical_data_warehouse_bi_spark.queries.dedup import SUBSTRING_MIN_TOKENS
    from clinical_data_warehouse_bi_spark.suffix import duplicate_spans

    docs = read_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, min_tokens=SUBSTRING_MIN_TOKENS, winnow_w=8)


def _floor(spark, sf_dir):
    """The minimal query cycle: a FRESH 5-row parquet read plus one aggregate."""
    return spark.read.parquet(f"{sf_dir}/region.parquet").selectExpr("count(*) AS n")


#: Spark-only names beside the resolver's
VARIANTS = {"q_substring_dedup_w8": _substring_w8, FLOOR: _floor}


def _spark_star_checksum(sources: dict) -> str:
    """star_checksum of star.run_pipeline(sources)'s DWH relations,
    handed to DuckDB as Arrow (the 2999-12-31 sentinel overflows
    pandas' ns range)."""
    import duckdb

    from clinical_data_warehouse_bi_spark import star

    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        tables = {}
        for name, df in star.run_pipeline(sources)["dwh"].items():
            tables[name] = f"spark_{name}"
            con.register(tables[name], df.toArrow())
        return star_checksum(con, tables)


class SparkEngine:
    def __init__(self, arm: Arm, work: str):
        from clinical_data_warehouse_bi_spark.io import snapshot_persistent_rdds
        from clinical_data_warehouse_bi_spark.session import get_spark
        from perfbench.tracing import SparkAccount

        self.arm, self.work, self.n = arm, work, 0
        self.spark = get_spark("ab", extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.acct = SparkAccount(self.spark)
        self.rdds = snapshot_persistent_rdds(self.spark)

    def reset(self) -> None:
        """Drop what earlier runs cached or checkpointed."""
        from clinical_data_warehouse_bi_spark.io import release_new_persistent_rdds

        self.spark.catalog.clearCache()
        release_new_persistent_rdds(self.spark, self.rdds)

    def setup(self, name: str) -> tuple:
        """(run, after, checksum) of ``name``, after its warm-up."""
        import bench

        spark = self.spark
        self.reset()
        if name == STAR:
            sf, out = self.arm.star(self.work)
            s = bench.star_setup(spark, sf)
            if not os.path.exists(f"{out}/_READY"):
                for t, df in s.sources.items():
                    df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
                open(f"{out}/_READY", "w").write("ok")
            # computed here from the setup's sources, not read from its
            # anchors, so a --tree arm (that tree's bench.py) gets it too
            checksum = _spark_star_checksum(s.sources)
            s.after()  # the checksum run's checkpoints; the sources stay cached
            return s.run, s.after, checksum
        data = self.arm.data_dir(self.work, spark)
        if name == CORPUS:
            s = bench.corpus_full_setup(spark, data)
            ids = s.anchors["doc_ids"]
            return s.run, None, _digest(len(ids), ids)
        from clinical_data_warehouse_bi_spark.registry import auditable_queries

        fn = VARIANTS.get(name) or auditable_queries()[name]

        def run():
            fn(spark, data).write.format("noop").mode("overwrite").save()

        run()  # warm-up
        self.reset()
        checksum = _rows_checksum(fn(spark, data).toPandas())
        self.reset()
        return run, self.reset, checksum

    def measure(self, run) -> dict:
        from perfbench.tracing import StealClock, python_worker_cpu_s

        self.n += 1
        sc, group = self.spark.sparkContext, f"ab-{self.n}"
        sc.setJobGroup(group, "ab run")
        py0 = python_worker_cpu_s(self.acct.jvm_pid)
        clock = StealClock()
        run()
        wall, wall_ns, _ = clock.read()
        py = python_worker_cpu_s(self.acct.jvm_pid) - py0
        sc.setLocalProperty("spark.jobGroup.id", None)
        m = self.acct.group(group)
        return {"wall_s": wall, "wall_ns_s": wall_ns, "py_cpu_s": py,
                **{k: m[k] for k in ("cpu_s", "tasks", "shuffle_mb", "spill_mb")}}


@dataclass
class DuckEngine:
    arm: Arm
    work: str

    def setup(self, name: str) -> tuple | None:
        """(run, None, checksum) of ``name``'s DuckDB twin, after its
        warm-up; None when it has none."""
        from clinical_data_warehouse_bi_spark.queries.text_ops import _STOP_LIST_SQL
        from clinical_data_warehouse_bi_spark.registry import auditable_oracles
        from scripts.check_parity import duck_con

        if name == STAR:
            con = duck_con(self.arm.star(self.work)[1], SOURCES)
            con.execute("SET TimeZone = 'UTC'")
            con.execute(DUCK_PIPELINE)  # warm-up
            checksum = star_checksum(con, DUCK_TABLES["dwh"])
            return lambda: con.execute(DUCK_PIPELINE), None, checksum
        con = duck_con(self.arm.data_dir(self.work))
        if name == CORPUS:
            sql = duck_mirror_sql(_STOP_LIST_SQL)
            ids = sorted(con.execute(sql).fetchone()[1])  # warm-up
            return lambda: con.execute(sql).fetchone(), None, _digest(len(ids), ids)
        sql = auditable_oracles().get(name)
        if sql is None:
            return None
        con.execute(sql).fetchall()  # warm-up
        checksum = _rows_checksum(con.execute(sql).df())
        return lambda: con.execute(sql).fetchall(), None, checksum

    def measure(self, run) -> dict:
        from perfbench.tracing import StealClock

        t0, clock = os.times(), StealClock()
        run()
        wall, wall_ns, _ = clock.read()
        t1 = os.times()
        return {"wall_s": wall, "wall_ns_s": wall_ns,
                "cpu_s": t1.user + t1.system - t0.user - t0.system,
                "py_cpu_s": 0.0, "tasks": 0, "shuffle_mb": 0.0, "spill_mb": 0.0}


def _serve(conn, arm: Arm, work: str) -> None:
    """A worker: ("setup", name) -> {"checksum"} | {"skip"}, ("run", name)
    -> one run's record, ("stop", None); a failure answers {"error"}."""
    import perfbench.tracing  # noqa: F401 - the measuring code is this checkout's

    if arm.tree:
        sys.path.insert(0, arm.tree)
    # the JVM starts its Python workers (``python -m`` the daemon) in
    # this working directory, and they import the engine's UDF code
    # and worker daemon from it: run them on the arm's own checkout
    os.chdir(arm.tree or ROOT)
    eng, cells = None, {}
    while (msg := conn.recv())[0] != "stop":
        cmd, name = msg
        try:
            eng = eng or (SparkEngine if arm.engine == "spark" else DuckEngine)(arm, work)
            if cmd == "setup":
                cells[name] = eng.setup(name)
                conn.send({"skip": True} if cells[name] is None
                          else {"checksum": cells[name][2]})
                continue
            run, after, _ = cells[name]
            rec = eng.measure(run)
            if after is not None:
                after()
            conn.send(rec)
        except Exception:  # noqa: BLE001 - reported, not fatal
            conn.send({"error": traceback.format_exc(limit=3)})
    if isinstance(eng, SparkEngine):
        eng.spark.stop()


def _call(conn, cmd: str, name: str | None = None) -> dict:
    try:
        conn.send((cmd, name))
        return conn.recv() if cmd != "stop" else {}
    except (EOFError, OSError):
        return {"error": "the worker process exited"}


def _report(c: dict, first: dict) -> None:
    """Summarize a cell (best, median and IQR of each run field, and
    the median wall of its first and second half of runs) and print
    it; a cell whose second half is faster than its first by more than
    its wall IQR is flagged warming (not at steady state). A later
    cell counts the pairs it beat the first in."""
    head = f"{c['query']:28s} {c['arm']:16s}"
    if "error" in c:
        print(f"{head} ERROR {c['error'].strip().splitlines()[-1]}", file=sys.stderr)
        return
    c["summary"] = s = {}
    for k in c["runs"][0]:
        xs = sorted(r[k] for r in c["runs"])
        q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
        s[k] = {"best": xs[0], "median": statistics.median(xs), "iqr": q[2] - q[0]}
    w, cpu = s["wall_s"], s["cpu_s"]
    half, drift = len(c["runs"]) // 2, ""
    if half:
        walls = [r["wall_s"] for r in c["runs"]]
        h1, h2 = statistics.median(walls[:half]), statistics.median(walls[-half:])
        s["halves"] = {"first_s": h1, "second_s": h2, "warming": h1 - h2 > w["iqr"]}
        drift = f" | halves {h1:.3f}/{h2:.3f}" + (" WARMING" if s["halves"]["warming"] else "")
    line = (f"{head} wall best {w['best']:.3f} med {w['median']:.3f} iqr {w['iqr']:.3f}"
            f" | no-steal {s['wall_ns_s']['median']:.3f} | cpu {cpu['median']:.2f}"
            f" iqr {cpu['iqr']:.2f} py {s['py_cpu_s']['median']:.2f}"
            f" tasks {s['tasks']['median']:.0f} shuffle {s['shuffle_mb']['median']:.1f}MB"
            f" spill {s['spill_mb']['median']:.1f}MB | {c['checksum']}{drift}")
    if c is not first and first.get("runs") and len(c["runs"]) == len(first["runs"]):
        pairs = list(zip(c["runs"], first["runs"]))
        c["beats_first"] = b = {k: sum(x[k] < y[k] for x, y in pairs)
                                for k in ("wall_ns_s", "cpu_s")}
        line += f" | beats first: wall {b['wall_ns_s']}, cpu {b['cpu_s']} of {len(pairs)}"
    print(line, file=sys.stderr, flush=True)


def compare(rows: list[list[tuple[Arm, str]]], pairs: int) -> tuple[list[dict], int]:
    """Time each row's (arm, name) cells against each other. Cells on
    the same data must agree. Returns the row records and the exit
    status, 1 on a mismatch or an error. Replicas and fixture dirs are
    built under one temp dir that is removed when the workers stop."""
    ctx = mp.get_context("spawn")
    work = tempfile.mkdtemp(prefix="spark_graft_scale_")
    workers = {}
    out, status = [], 0
    try:
        for arm in dict.fromkeys(a for row in rows for a, _ in row):
            conn, child = ctx.Pipe()
            proc = ctx.Process(target=_serve, args=(child, arm, work), daemon=True)
            workers[arm] = (conn, proc)
            proc.start()
        for row in rows:
            cells = []
            for arm, name in row:  # Spark before DuckDB: see Arm.data_dir
                r = _call(workers[arm][0], "setup", name)
                if "skip" not in r:
                    cells.append({"arm": arm.label, "query": name, "factor": arm.factor,
                                  "conn": workers[arm][0], "runs": [], **r})
            for p in range(pairs):
                for c in cells if p % 2 == 0 else cells[::-1]:
                    if "error" not in c:
                        r = _call(c["conn"], "run", c["query"])
                        if "error" in r:
                            c.update(r)
                        else:
                            c["runs"].append(r)
            rec = {"name": row[0][1], "cells": cells, "agree": True}
            for c in cells:
                del c["conn"]
                status = 1 if "error" in c else status
                _report(c, cells[0])
            for f in {c["factor"] for c in cells}:
                group = [c for c in cells if c["factor"] == f and "error" not in c]
                if len({c["checksum"] for c in group}) > 1:
                    rec["agree"], status = False, 1
                    print(f"MISMATCH {rec['name']} @{f}x: " + "  vs  ".join(
                        f"{c['arm']} {c['query']}={c['checksum']}" for c in group),
                        file=sys.stderr, flush=True)
            out.append(rec)
    finally:
        for conn, proc in workers.values():
            _call(conn, "stop")
            proc.join(timeout=120)
            if proc.is_alive():
                proc.terminate()
        shutil.rmtree(work, ignore_errors=True)
    return out, status


# ---------------------------------------------------- BENCH_COMPARE

_BEGIN = "<!-- BENCH_COMPARE:BEGIN (auto-maintained, do not edit) -->"
_END = "<!-- BENCH_COMPARE:END -->"


def update_baseline(records: list[dict], sf_dir: str, pairs: int) -> None:
    """Rewrite BASELINE.md's marked per-query block (appended when it
    is missing) from each record's spark@1x and duck@1x cells."""
    rows, floor = [], None
    for rec in records:
        cells = {c["arm"]: c for c in rec["cells"]}
        sp, dk = cells.get("spark@1x", {}), cells.get("duck@1x", {})
        s = round(sp["summary"]["wall_s"]["best"], 3) if "summary" in sp else None
        if rec["name"] == FLOOR:
            floor = s
            continue
        cpu = round(sp["summary"]["cpu_s"]["median"], 2) if "summary" in sp else None
        d = round(dk["summary"]["wall_s"]["best"], 3) if "summary" in dk else None
        r = round(s / d, 2) if s and d else None
        parity = ("error" if "error" in sp or "error" in dk else "n/a" if not dk
                  else "ok" if rec["agree"] else "**DIFF**")
        rows.append((rec["name"], s, cpu, d, r, parity))
    n_miss = sum(1 for *_, d, r, _ in rows if r and r > 2.0 and d >= 0.05)
    n_floor = sum(1 for *_, d, r, _ in rows if r and r > 2.0 and d < 0.05)
    lines = [
        _BEGIN,
        "",
        f"### Per-query Spark-vs-DuckDB ({sf_dir}, best of {pairs} "
        f"alternating runs per engine, scripts/ab.py, updated "
        f"{datetime.date.today().isoformat()})",
        "",
        f"Measured minimal-query Spark floor this run: **{floor}s**",
        "(a FRESH `spark.read.parquet(region)` + count(*) to a noop",
        "sink: new plan, footer schema read, one scan job — the cycle",
        "every registered query pays at least once) — any query whose",
        "DuckDB side is below ~0.05s cannot meet 2x at this sf with ANY",
        "plan, because the minimal cycle already costs more; those",
        "rows are marked *floor* and adjudicated by the floor argument,",
        "not left as silent misses. Ratio > 2.00 with a substantive",
        "DuckDB side (>= 0.05s) is a real **MISS**: it needs either an",
        "optimization or a recorded 16x/64x crossover",
        "(`ab.py --duckdb --factor N`) before the round closes. Spark",
        "cpu is the median executor CPU of the Spark runs; parity",
        "compares the two engines' checksums.",
        f"This run: **{n_miss} MISS**, {n_floor} floor-bound.",
        "",
        "| query | spark s | spark cpu s | duckdb s | ratio | parity |",
        "|---|---|---|---|---|---|",
    ]
    for name, s, cpu, d, r, parity in rows:
        flag = (" **MISS**" if d >= 0.05 else " *floor*") if r and r > 2.0 else ""
        cols = ["n/a" if v is None else v for v in (s, cpu, d, r)]
        lines.append(f"| {name} | {cols[0]} | {cols[1]} | {cols[2]} | "
                     f"{cols[3]}{flag} | {parity} |")
    tot_s, tot_c, tot_d = (sum(row[i] or 0 for row in rows) for i in (1, 2, 3))
    ratio = round(tot_s / tot_d, 2) if tot_d else None
    lines += [f"| **TOTAL** | **{round(tot_s, 3)}** | **{round(tot_c, 2)}** |"
              f" **{round(tot_d, 3)}** | **{ratio}** | |", "", _END]
    path = os.path.join(ROOT, "BASELINE.md")
    pre, _, rest = open(path).read().partition(_BEGIN)
    post = rest.partition(_END)[2]
    open(path, "w").write(pre + "\n".join(lines) + post)
    print(f"BASELINE.md per-query block updated ({len(rows)} rows)", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Alternating A/B harness.")
    ap.add_argument("names", nargs="*", help="default: bench.BENCH_QUERIES")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--duckdb", action="store_true")
    ap.add_argument("--factor", type=int, default=1)
    ap.add_argument("--planted", action="store_true")
    ap.add_argument("--tree", help="another checkout's root")
    ap.add_argument("--update-baseline", action="store_true")
    a = ap.parse_args(argv)
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")
    from bench import BENCH_QUERIES

    names = a.names or list(BENCH_QUERIES)
    if a.update_baseline:
        names = [*names, FLOOR]
    sf_dir = os.path.abspath(a.sf_dir)
    tree = os.path.abspath(a.tree) if a.tree else None
    arms = []
    for f in sorted({1, a.factor}):
        arms.append(Arm("spark", sf_dir, f, a.planted))
        if tree:
            arms.append(Arm("spark", sf_dir, f, a.planted, tree))
        if a.duckdb or a.update_baseline:
            arms.append(Arm("duck", sf_dir, f, a.planted))
    records, status = compare([[(arm, n) for arm in arms] for n in names], a.pairs)
    print(json.dumps({"sf_dir": sf_dir, "pairs": a.pairs, "factor": a.factor,
                      "planted": a.planted, "tree": tree, "rows": records}))
    if a.update_baseline:
        update_baseline(records, sf_dir, a.pairs)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
