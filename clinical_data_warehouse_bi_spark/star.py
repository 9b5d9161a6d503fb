"""The reference's full 3-script lifecycle (SURVEY.md section 3) as a
lazy Spark dataflow: staging build (Stage_area.sql) -> warehouse
promote (DWH.sql) -> pre-aggregation, with QA in qa.py.

MariaDB's mutable-state idioms become pure recomputes:
- UPDATE + regex guard        -> withColumn(when(rlike, cast))
- UPDATE + scalar subquery    -> coalesce with a broadcast one-row dim
- UPDATE + BETWEEN join       -> interval join + deterministic
                                 row_number pick-first (MariaDB kept
                                 an arbitrary match)
- DELETE + LEFT JOIN IS NULL  -> orphan_cleanup (semi-join keep)
- AUTO_INCREMENT              -> keys.zip_index_key: dense 1..N, no
                                 global window (the junk dim, bounded
                                 by construction, keeps row_number)

Key VALUES are consistent but not MariaDB's: every consumer joins on
natural keys, and tests/test_star_pipeline.py checks all 16 relations
against the reference's own SQL run by DuckDB (scripts/ab.py
DUCK_PIPELINE) after resolving each surrogate to its natural key.

Every transform chains lazily inside one Catalyst plan per layer. The
materialization barriers are the lazy ``localCheckpoint``s
``keys.zip_index_key`` takes of its input at the two consumer-shared
event-scale relations, the enriched staging fact and the cleaned DWH
fact; the two key-built dims pass through the same barrier.

Scale notes: concept/junk/date dims are broadcast in every fact
lookup. The interval joins key on (patient_id, admission_id) — the
reference's own equi keys — so they stay hash joins; AQE handles the
admission skew typical of clinical data.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from clinical_data_warehouse_bi_spark.cleanse import (
    keyword_filter,
    normalized_key,
    regex_guarded_numeric,
    sentinel_timestamp,
)
from clinical_data_warehouse_bi_spark.io import local_frame
from clinical_data_warehouse_bi_spark.joins import (
    interval_join_pick_first,
    orphan_cleanup,
)
from clinical_data_warehouse_bi_spark.keys import zip_index_key

LAB_KEYWORDS = [
    "sodium", "potassium", "bicarbonate", "chloride", "ph", "base excess", "anion gap",
]
DIAGNOSIS_KEYWORDS = [
    "hypo", "hyper", "acidosis", "alkalosis", "electrolyte", "sodium",
    "potassium", "bicarbonate", "ph",
]
OMR_KEYWORDS = ["sodium", "potassium", "bicarbonate", "chloride", "anion gap", "ph"]

FACT_COLS = [
    "disorder_event_id", "patient_id", "admission_id", "event_datetime",
    "careunit_id", "clinical_concept_id", "measurement_value",
    "measurement_unit", "event_source_type", "event_date", "junk_id",
    "provider_id",
]


def _calendar(src: DataFrame) -> DataFrame:
    """dim_date attribute derivation (Stage_area.sql:289-301 /
    DWH.sql:124-135) over ``src.event_datetime``. MariaDB WEEKDAY+1
    == Spark weekday()+1 (1=Mon); DAYOFWEEK IN (1,7) == Spark
    dayofweek (1=Sun, 7=Sat)."""
    c = F.col("event_datetime")
    return src.select(
        c,
        F.month(c).alias("month"),
        F.year(c).alias("year"),
        (F.weekday(c) + F.lit(1)).alias("day_of_week"),
        F.date_format(c, "EEEE").alias("day_name"),
        F.date_format(c, "MMMM").alias("month_name"),
        F.dayofweek(c).isin(1, 7).alias("is_weekend"),
    ).distinct()


class _StageDict(dict):
    """build_staging's return type: a plain dict of DataFrames plus a
    provenance marker build_dwh checks before eliding the probes that
    are no-ops only for build_staging output (the provenance
    tripwire). In-place mutation of the dict keeps the marker;
    constructing a FRESH plain dict — the hand-built case the
    tripwire exists for — drops it, and build_dwh then runs the full
    probe set."""

    _from_build_staging = True


def build_staging(src: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Stage_area.sql as one lazy dataflow. ``src`` holds the 8
    MIMIC-IV-shaped tables: patients, admissions, transfers,
    d_labitems, d_icd_diagnoses, labevents, diagnoses_icd, omr.

    Surrogate keys of the fact, dim_provider and dim_concepts come
    from ``keys.zip_index_key`` — dense 1..N, fully parallel, no
    global sort. Keys only need to be consistent, not identical to
    MariaDB's AUTO_INCREMENT values (oracle parity joins on natural
    keys; SURVEY.md section 7c), so no relation crosses a
    single-partition window except the junk dim's row_number
    (bounded distinct attribute combos by construction)."""
    # -- dim_patients (Stage_area.sql:25-30): project + rename
    dim_patients = src["patients"].select(
        F.col("subject_id").alias("patient_id"), "gender", "dod"
    )

    # -- dim_admissions (36-50): sentinel timestamps for null/blank
    dim_admissions = src["admissions"].select(
        F.col("subject_id").alias("patient_id"),
        F.col("hadm_id").alias("admission_id"),
        "admission_type",
        sentinel_timestamp("admittime", "1900-01-01 00:00:00").alias("admittime"),
        sentinel_timestamp("dischtime", "2999-12-31 23:59:59").alias("dischtime"),
        "insurance",
    )

    # -- dim_provider (56-70): ROW_NUMBER() OVER () surrogate.
    #    transfers scales with events, so the dense key comes from
    #    zip_index_key (keyed below together with dim_concepts), not a
    #    single-partition global window.
    prov_base = src["transfers"].select(
        F.col("subject_id").alias("patient_id"),
        F.col("hadm_id").alias("admission_id"),
        F.col("careunit").alias("careunit_id"),
        sentinel_timestamp("intime", "1900-01-01 00:00:00").alias("intime"),
        sentinel_timestamp("outtime", "2999-12-31 23:59:59").alias("outtime"),
    )

    # -- dim_concepts (76-113): keyword extracts + 'Unknown' fallback;
    #    AUTO_INCREMENT across the three insert batches -> a dense
    #    zip_index_key (bounded today, but vocabularies grow; facts
    #    join concepts on the natural key, so any consistent dense id
    #    works)
    labs = (
        src["d_labitems"]
        .filter(keyword_filter("label", LAB_KEYWORDS))
        .select(
            F.lit("Lab").alias("concept_type"),
            F.col("label").alias("concept_name"),
            F.col("itemid").cast("string").alias("code"),
            F.col("label").alias("description"),
        )
    )
    diags = (
        src["d_icd_diagnoses"]
        .filter(keyword_filter("long_title", DIAGNOSIS_KEYWORDS))
        .select(
            F.lit("Diagnosis").alias("concept_type"),
            F.col("long_title").alias("concept_name"),
            F.col("icd_code").alias("code"),
            F.col("long_title").alias("description"),
        )
    )
    spark = src["patients"].sparkSession
    unknown = local_frame(
        spark,
        [("Unknown", "Unknown concept", "UNKNOWN", "No matching concept found")],
        "concept_type string, concept_name string, code string, description string",
    )
    concept_base = labs.unionByName(diags).unionByName(unknown)

    # Both dim key builds: the two zip_index_key stats jobs are
    # independent, so they overlap in a 2-thread pool (each call's
    # result is a pure function of its own checkpointed input;
    # threading only hides the second job's latency behind the
    # first's straggler tail — `ab.py pipeline_star --pairs 10` at
    # sf0.1 (1,200 patients, 4 vCPUs), pool against serial builds:
    # median pipeline wall 3.87 -> 3.63 s, executor CPU 1.58 -> 1.53 s,
    # pool faster in 7 of 10 pairs, checksums equal).
    # inheritable_thread_target(spark) copies this thread's JVM-local
    # properties (job group/description, scheduler pool) and the
    # session's spark.addTag tags into the worker threads — under
    # pinned-thread mode a plain pool thread would not inherit them,
    # so caller-side job cancellation or tagging would miss these two
    # jobs. Given no session it copies the properties only, drops the
    # tags and warns on every call. Without pinned threads
    # (PYSPARK_PIN_THREAD=false) there is nothing to copy and it hands
    # the session itself back.
    wrap = inheritable_thread_target(spark)
    key_build = zip_index_key if wrap is spark else wrap(zip_index_key)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_prov = pool.submit(key_build, prov_base, "provider_id")
        f_conc = pool.submit(key_build, concept_base, "clinical_concept_id")
        dim_provider = f_prov.result().select(
            "provider_id", "patient_id", "admission_id",
            "careunit_id", "intime", "outtime",
        )
        dim_concepts = f_conc.result().select(
            "clinical_concept_id", "concept_type", "concept_name", "code", "description"
        )

    # -- omr_filtered (133-147): keyword filter + regex-guarded parse
    omr_filtered = src["omr"].filter(keyword_filter("result_name", OMR_KEYWORDS)).withColumn(
        "result_value_numeric", regex_guarded_numeric("result_value").cast("float")
    )

    # -- fact build (153-222): three conformed branches unioned
    concepts_lab = F.broadcast(
        dim_concepts.filter(F.col("concept_type") == "Lab").select(
            "clinical_concept_id", "code", "concept_name"
        )
    )
    concepts_diag = F.broadcast(
        dim_concepts.filter(F.col("concept_type") == "Diagnosis").select(
            F.col("clinical_concept_id").alias("diag_concept_id"),
            F.col("code").alias("diag_code"),
        )
    )

    le = src["labevents"].filter(
        F.col("subject_id").isNotNull()
        & F.col("hadm_id").isNotNull()
        & F.col("charttime").isNotNull()
    )
    lab_events = le.join(
        concepts_lab, le["itemid"].cast("string") == concepts_lab["code"], "left"
    ).select(
        F.col("subject_id").alias("patient_id"),
        F.col("hadm_id").alias("admission_id"),
        F.col("charttime").alias("event_datetime"),
        F.col("clinical_concept_id"),
        F.col("valuenum").cast("string").alias("measurement_value"),
        F.col("valueuom").alias("measurement_unit"),
        F.lit("lab").alias("event_source_type"),
        F.col("charttime").alias("event_date"),
    )

    d = src["diagnoses_icd"].filter(
        F.col("subject_id").isNotNull() & F.col("hadm_id").isNotNull()
    )
    adm_lookup = dim_admissions.select(
        F.col("admission_id").alias("a_admission_id"), F.col("admittime")
    )
    diag_events = (
        d.join(adm_lookup, d["hadm_id"] == F.col("a_admission_id"), "left")
        .join(concepts_diag, d["icd_code"] == F.col("diag_code"), "left")
        .select(
            F.col("subject_id").alias("patient_id"),
            F.col("hadm_id").alias("admission_id"),
            F.coalesce(
                F.col("admittime"), F.lit("1900-01-01 00:00:00").cast("timestamp")
            ).alias("event_datetime"),
            F.col("diag_concept_id").alias("clinical_concept_id"),
            F.lit(None).cast("string").alias("measurement_value"),
            F.lit(None).cast("string").alias("measurement_unit"),
            F.lit("diagnosis").alias("event_source_type"),
            F.lit(None).cast("timestamp").alias("event_date"),
        )
    )

    o = omr_filtered.filter(
        F.col("subject_id").isNotNull() & F.col("chartdate").isNotNull()
    )
    concepts_lab_norm = F.broadcast(
        dim_concepts.filter(F.col("concept_type") == "Lab").select(
            F.col("clinical_concept_id").alias("omr_concept_id"),
            normalized_key("concept_name").alias("norm_name"),
        )
    )
    omr_events = o.join(
        concepts_lab_norm, normalized_key(o["result_name"]) == F.col("norm_name"), "left"
    ).select(
        F.col("subject_id").alias("patient_id"),
        F.lit(None).cast(o.schema["subject_id"].dataType).alias("admission_id"),
        F.col("chartdate").alias("event_datetime"),
        F.col("omr_concept_id").alias("clinical_concept_id"),
        F.col("result_value_numeric").cast("string").alias("measurement_value"),
        F.lit(None).cast("string").alias("measurement_unit"),
        F.lit("omr").alias("event_source_type"),
        F.col("chartdate").alias("event_date"),
    )

    # AUTO_INCREMENT id across batches (lab -> diagnosis -> omr). The
    # dense key is assigned AFTER the two interval joins, at the
    # junk-dim barrier below — the dedup windows only need a unique
    # per-row identity, and a sparse monotonically_increasing_id
    # provides it shuffle-free (it is deterministic here: the union
    # is narrow over the cached sources). Fusing the key barrier into
    # the enrichment barrier halves staging's event-scale
    # materializations (two localCheckpoint write+read passes -> one),
    # the biggest fixed cost in the 256x pipeline_star bill.
    fact = (
        lab_events.unionByName(diag_events)
        .unionByName(omr_events)
        .withColumn("__uid", F.monotonically_increasing_id())
    )

    # -- UPDATE 1 (225-231): unknown-concept default via scalar
    #    lookup. LAZY form: the one-row filtered dim rides in as a
    #    broadcast cross join + coalesce instead of an eager .first()
    #    — same semantics (the filter yields exactly one row by
    #    construction), but the pipeline build stays action-free here
    #    (an eager scalar cost 0.4 s of build latency per run; the
    #    retired J12 query q_scalar_lookup_default keeps the
    #    driver-side idiom).
    unknown_row = F.broadcast(
        dim_concepts.filter(F.col("concept_name") == "Unknown concept").select(
            F.col("clinical_concept_id").alias("__unknown_id")
        )
    )
    fact = fact.crossJoin(unknown_row).withColumn(
        "clinical_concept_id",
        F.coalesce(F.col("clinical_concept_id"), F.col("__unknown_id")),
    ).drop("__unknown_id")

    # -- UPDATE 2 (237-245): careunit backfill via LEFT interval join,
    #    deterministic pick-first (earliest intime, then careunit).
    #    The reference joins mimic4.transfers RAW — a NULL intime or
    #    outtime never satisfies BETWEEN (common: open-ended last
    #    transfer) — so no sentinel substitution here, unlike
    #    dim_provider which the reference builds WITH sentinels.
    #    The pick-first window partitions by the join's own equi keys
    #    (+ the unique event id), so the second interval join and its
    #    window below reuse this exchange instead of adding their own.
    #    Round 13 A/B (one process, alternating runs): a map-side
    #    packed-broadcast form (each key's intervals packed into one
    #    sorted array, broadcast, resolved per row) measured SLOWER
    #    than this equi-join + shared-exchange window form at BOTH
    #    probed scales (sf0.1: 8.5-9.4 vs 6.5-7.5 s; 256x: 32.3 vs
    #    28.2 s whole-pipeline) — the probe/pack/broadcast fixed costs
    #    exceed what skipping the fact exchange saves while the
    #    exchange is one shared shuffle for both UPDATEs.
    transfers = src["transfers"].select(
        F.col("subject_id").alias("t_subject"),
        F.col("hadm_id").alias("t_hadm"),
        F.col("careunit").alias("t_careunit"),
        F.col("intime").cast("timestamp").alias("t_intime"),
        F.col("outtime").cast("timestamp").alias("t_outtime"),
    )
    fact = interval_join_pick_first(
        fact,
        transfers,
        equi=(F.col("patient_id") == F.col("t_subject"))
        & (F.col("admission_id") == F.col("t_hadm")),
        ts_col=F.col("event_datetime"),
        lo_col=F.col("t_intime"),
        hi_col=F.col("t_outtime"),
        left_key=["patient_id", "admission_id", "__uid"],
        order=[
            F.col("t_intime").asc_nulls_last(),
            F.col("t_careunit").asc_nulls_last(),
        ],
    ).withColumn("careunit_id", F.col("t_careunit")).drop(
        "t_subject", "t_hadm", "t_careunit", "t_intime", "t_outtime"
    )

    # -- UPDATE 3 (251-256): provider via INNER interval join; rows
    #    without a match keep NULL provider_id (UPDATE+JOIN net effect)
    prov = dim_provider.select(
        F.col("provider_id").alias("p_provider_id"),
        F.col("patient_id").alias("p_patient"),
        F.col("admission_id").alias("p_hadm"),
        F.col("careunit_id").alias("p_careunit"),
        F.col("intime").alias("p_intime"),
        F.col("outtime").alias("p_outtime"),
    )
    fact = interval_join_pick_first(
        fact,
        prov,
        equi=(F.col("patient_id") == F.col("p_patient"))
        & (F.col("admission_id") == F.col("p_hadm")),
        ts_col=F.col("event_datetime"),
        lo_col=F.col("p_intime"),
        hi_col=F.col("p_outtime"),
        left_key=["patient_id", "admission_id", "__uid"],
        # natural-column order first so the pick does not depend on the
        # surrogate-key values; p_provider_id only breaks exact ties
        order=[
            F.col("p_intime").asc_nulls_last(),
            F.col("p_outtime").asc_nulls_last(),
            F.col("p_careunit").asc_nulls_last(),
            F.col("p_provider_id").asc_nulls_last(),
        ],
    ).withColumn("provider_id", F.col("p_provider_id")).drop(
        "p_provider_id", "p_patient", "p_hadm", "p_careunit", "p_intime", "p_outtime"
    )

    # -- junk dim (262-283): DISTINCT combos + null-safe link-back.
    #    The junk dim derives FROM the enriched fact and then joins
    #    BACK to it — without a barrier every action recomputes both
    #    interval joins twice (once per traversal). Materialize the
    #    enriched fact once; this is also the point the reference's
    #    own staging table would exist as real rows. The dense
    #    surrogate key is assigned HERE, inside the same barrier
    #    (zip_index_key localCheckpoints its input), so staging pays
    #    exactly one event-scale materialization.
    fact = zip_index_key(fact.drop("__uid"), name="disorder_event_id")
    w_junk = Window.orderBy(
        F.col("event_source_type").asc_nulls_first(),
        F.col("measurement_unit").asc_nulls_first(),
        F.col("careunit_id").asc_nulls_first(),
    )
    dim_junk = (
        fact.select("event_source_type", "measurement_unit", "careunit_id")
        .distinct()
        .withColumn("junk_id", F.row_number().over(w_junk))
        .select("junk_id", "event_source_type", "measurement_unit", "careunit_id")
    )
    junk_lookup = F.broadcast(
        dim_junk.select(
            F.col("junk_id").alias("j_id"),
            F.col("event_source_type").alias("j_src"),
            F.col("measurement_unit").alias("j_unit"),
            F.col("careunit_id").alias("j_unit_cu"),
        )
    )
    fact = (
        fact.join(
            junk_lookup,
            (F.col("event_source_type") == F.col("j_src"))
            & F.col("measurement_unit").eqNullSafe(F.col("j_unit"))
            & F.col("careunit_id").eqNullSafe(F.col("j_unit_cu")),
            "left",
        )
        .withColumn("junk_id", F.col("j_id"))
        .drop("j_id", "j_src", "j_unit", "j_unit_cu")
        .select(*FACT_COLS)
    )

    # -- dim_date (289-301): distinct fact timestamps + calendar attrs
    dim_date = _calendar(
        fact.filter(F.col("event_datetime").isNotNull()).select("event_datetime")
    )

    return _StageDict(
        {
            "dim_patients": dim_patients,
            "dim_admissions": dim_admissions,
            "dim_provider": dim_provider,
            "dim_concepts": dim_concepts,
            "omr_filtered": omr_filtered,
            "dim_date": dim_date,
            "dim_junk_disorder_event": dim_junk,
            "fact_disorder_events": fact,
        }
    )


def build_dwh(stage: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """DWH.sql: DISTINCT-promote every table, top-up dim_date, keep
    the 'Unknown concept' row, six orphan cleanups, pre-aggregate.
    The fact takes dense 1..N keys over the rows that survive the
    cleanups.

    The build exploits the STAGING INVARIANTS build_staging
    guarantees to elide the probes that are no-ops by construction —
    output rows are identical (tests/test_star_pipeline.py checks
    every DWH relation against the reference's SQL run by DuckDB,
    which runs all six DELETEs and the top-up), and the pipeline's
    own QA probes (qa.orphan_checks, asserted all-zero e2e) are the
    standing witness for every elision. The contract is
    SELF-ENFORCING: the elisions apply only when ``stage`` carries
    build_staging's provenance marker (_StageDict) — a hand-built
    plain dict, whose invariants nothing guarantees, gets the
    reference's full probe set."""
    full_probes = not getattr(stage, "_from_build_staging", False)
    dim_patients = stage["dim_patients"].distinct()
    dim_admissions = stage["dim_admissions"].distinct()
    dim_provider = stage["dim_provider"].distinct()
    dim_concepts = stage["dim_concepts"].distinct()
    dim_date = stage["dim_date"].distinct()
    dim_junk = stage["dim_junk_disorder_event"].distinct()

    # fact promote (DWH.sql:111-118): DISTINCT over all non-key
    # columns (event_date is dropped in the DWH fact), fresh key
    fact_cols = [c for c in FACT_COLS if c not in ("disorder_event_id", "event_date")]
    deduped = stage["fact_disorder_events"].select(*fact_cols).distinct()

    # dim_date top-up (124-135): anti-join insert of missing
    # datetimes — PROVABLY EMPTY against a build_staging stage:
    # stage dim_date is _calendar() over exactly the stage fact's
    # non-null datetimes, and neither the DISTINCT promote nor the
    # cleanups can add a datetime, so it runs only for a hand-built
    # stage (witness: the 'Orphan dates' QA probe stays zero e2e, and
    # tests/test_star_pipeline.py pins dim_date to DuckDB's run of the
    # reference's top-up).
    if full_probes:
        missing = (
            stage["fact_disorder_events"]
            .filter(F.col("event_datetime").isNotNull())
            .select("event_datetime")
            .join(
                dim_date.select("event_datetime"), "event_datetime", "left_anti"
            )
        )
        dim_date = dim_date.unionByName(_calendar(missing))

    # 'Unknown concept' guard (138-144): NOT EXISTS re-insert
    unknown_missing = (
        stage["dim_concepts"]
        .filter(F.col("concept_name") == "Unknown concept")
        .join(
            dim_concepts.filter(F.col("concept_name") == "Unknown concept"),
            ["clinical_concept_id"],
            "left_anti",
        )
    )
    dim_concepts = dim_concepts.unionByName(unknown_missing)

    # orphan cleanups (150-177; the DWH build was the measured
    # pipeline_star residue at 256x). Two facts about
    # build_staging's output make four of the six probes no-ops:
    # every fact FK in {clinical_concept_id, junk_id, provider_id}
    # was ASSIGNED from the very dim it is probed against (concept
    # lookup + Unknown default, junk link-back, provider interval
    # join), and dim_date derives from the fact's own datetimes —
    # while DISTINCT promotion can only shrink row multiplicity,
    # never a dim's key set. Only patient_id and admission_id arrive
    # from SOURCE tables (labevents/diagnoses/omr subject+hadm ids)
    # and can genuinely dangle, so only those two probes can delete.
    # Eliding the other four drops their dim-key DISTINCT exchanges
    # (provider is transfers-scale, date is event-scale) and
    # broadcast builds from the hot path.
    #
    # Keys are assigned AFTER the probes: they are arbitrary-but-dense
    # by contract (build_staging docstring), so the surviving rows
    # take dense 1..N keys and zip_index_key's internal
    # localCheckpoint IS the two-consumer barrier (the fact table and
    # the pre-agg) — the DWH build pays ONE event-scale
    # materialization and no separate checkpoint. The reference's
    # key gaps after its DELETEs are a key-VALUE property, not kept.
    fact = orphan_cleanup(deduped, dim_patients, "patient_id", "patient_id")
    fact = orphan_cleanup(fact, dim_admissions, "admission_id", "admission_id")
    if full_probes:
        # provenance tripwire: an untagged (hand-built) stage dict
        # gets the four elided probes back — correctness never rests
        # on invariants nothing checked
        fact = orphan_cleanup(fact, dim_concepts, "clinical_concept_id", "clinical_concept_id")
        fact = orphan_cleanup(fact, dim_date, "event_datetime", "event_datetime")
        fact = orphan_cleanup(fact, dim_junk, "junk_id", "junk_id")
        fact = orphan_cleanup(fact, dim_provider, "provider_id", "provider_id")
    fact = zip_index_key(fact, name="disorder_event_id").select(
        "disorder_event_id", *fact_cols
    )

    # pre-aggregation (203-210). countDistinct x2 (the Expand form)
    # measured FASTER than the collect_set rewrite here (3.4 s vs
    # 4.9 s at 256x, round-13 profile): reading from the checkpoint,
    # the Expand's partial counts compress map-side better than
    # per-group set state at this grain. q_agg_per_order keeps the
    # collect_set form where the input is pre-partitioned on the
    # group key and the comparison flips.
    agg = fact.groupBy("admission_id").agg(
        F.count("*").alias("total_events"),
        F.countDistinct("clinical_concept_id").alias("unique_concepts"),
        F.countDistinct("event_source_type").alias("different_sources"),
    )

    return {
        "dim_patients": dim_patients,
        "dim_admissions": dim_admissions,
        "dim_provider": dim_provider,
        "dim_concepts": dim_concepts,
        "dim_date": dim_date,
        "dim_junk_disorder_event": dim_junk,
        "fact_disorder_events": fact,
        "agg_disorders_per_admission": agg,
    }


def run_pipeline(src: dict[str, DataFrame]) -> dict[str, dict[str, DataFrame]]:
    """staging -> dwh, both lazy: ``{"stage": ..., "dwh": ...}``."""
    stage = build_staging(src)
    return {"stage": stage, "dwh": build_dwh(stage)}
