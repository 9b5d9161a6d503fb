"""Join-operator queries (SURVEY.md section 2.3) on the driver star
schema, per the role mapping in FIXTURES.md section C."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import joins
from clinical_data_warehouse_bi_spark.cleanse import normalized_key
from clinical_data_warehouse_bi_spark.io import fan_out, load_tables, local_frame
from clinical_data_warehouse_bi_spark.registry import register


@register("q_join_lookup_cast", oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_name
    FROM lineitem l
    LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
      ON CAST(l.l_partkey AS VARCHAR) = CAST(p.p_partkey AS VARCHAR)
    """)
def q_join_lookup_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — left lookup join with CAST'ed key + pre-filtered dim
    (Stage_area.sql:181-182: `labevents LEFT JOIN dim_concepts ON
    CAST(itemid AS CHAR)=code AND concept_type='Lab'`). The dim-side
    constant predicate becomes a dim pre-filter; the small side is
    broadcast — zero fact shuffle.

    Also the registered witness for J2 (plain left equi-join,
    Stage_area.sql:200): the former q_join_left was this exact shape
    minus the cast/filter, strictly subsumed here (registry cap
    consolidation); the star pipeline's dim lookups exercise the
    plain form end-to-end in tests/test_star_pipeline.py."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    dim = t["part"].filter(F.col("p_size") > 25)
    out = t["lineitem"].join(
        F.broadcast(dim),
        t["lineitem"]["l_partkey"].cast("string") == dim["p_partkey"].cast("string"),
        "left",
    )
    return out.select("l_orderkey", "l_linenumber", "p_name")


@register("q_join_normalized", oracle="""
    SELECT d.doc_id, dim.source_name
    FROM documents d
    LEFT JOIN (SELECT DISTINCT upper(source) AS source_name FROM documents) dim
      ON trim(lower(d.source)) = trim(lower(dim.source_name))
    """)
def q_join_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — normalized-string equi-join: TRIM(LOWER(x)) both sides
    (Stage_area.sql:219-220, the OMR result_name -> concept_name
    fuzzy-lite match). The computed key is still an equi-join, so it
    hashes/broadcasts like any other key."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    dim = docs.select(F.upper("source").alias("source_name")).distinct()
    out = docs.join(
        F.broadcast(dim),
        normalized_key(docs["source"]).eqNullSafe(normalized_key(dim["source_name"])),
        "left",
    )
    return out.select("doc_id", "source_name")


@register("q_asof_next_order", oracle="""
    SELECT order_id, next_order_id, next_order_date
    FROM (
      SELECT a.o_orderkey AS order_id,
             b.o_orderkey AS next_order_id,
             b.o_orderdate AS next_order_date,
             row_number() OVER (
               PARTITION BY a.o_orderkey
               ORDER BY b.o_orderdate ASC NULLS FIRST,
                        b.o_orderkey ASC NULLS FIRST) AS rn
      FROM orders a
      LEFT JOIN orders b
        ON a.o_custkey = b.o_custkey
       AND b.o_orderkey <> a.o_orderkey
       AND b.o_orderdate BETWEEN a.o_orderdate
                             AND a.o_orderdate + INTERVAL 90 DAY
    ) WHERE rn = 1
    """)
def q_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J6 — interval/as-of join with deterministic pick-first
    (Stage_area.sql:237-245: equi keys + `BETWEEN intime AND outtime`,
    where MariaDB's UPDATE kept an arbitrary match and we pick the
    earliest by (date, key)). Realized as each order's next order by
    the same customer within 90 days.

    Scale: equi-join on o_custkey (hash, AQE-skew-splittable) with the
    BETWEEN as post-filter; the dedup window re-uses the same
    partitioning key family."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    # keyed fan_out: the broadcast-join output inherits the left
    # side's partitioning, so the pick-first window (partitioned by
    # order_id) sorts in place — no post-join exchange of the blown-up
    # pair relation
    a = fan_out(
        o.select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("order_date"),
        ),
        "order_id",
    )
    b = o.select(
        F.col("o_orderkey").alias("next_order_id"),
        F.col("o_custkey").alias("b_custkey"),
        F.col("o_orderdate").alias("next_order_date"),
    )
    out = joins.interval_join_pick_first(
        a,
        b,
        equi=(a["custkey"] == b["b_custkey"])
        & (b["next_order_id"] != a["order_id"]),
        ts_col=b["next_order_date"],
        lo_col=a["order_date"],
        hi_col=a["order_date"] + F.expr("INTERVAL 90 DAYS"),
        left_key=["order_id"],
        order=[
            F.col("next_order_date").asc_nulls_first(),
            F.col("next_order_id").asc_nulls_first(),
        ],
    )
    return out.select("order_id", "next_order_id", "next_order_date")


@register("q_join_nullsafe_junk", oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE upper(event_type) END AS channel
      FROM events),
    junk AS (
      SELECT row_number() OVER (
               ORDER BY event_type ASC NULLS FIRST,
                        channel ASC NULLS FIRST) AS junk_id,
             event_type, channel
      FROM (SELECT DISTINCT event_type, channel FROM base))
    SELECT b.event_id, j.junk_id
    FROM base b
    JOIN junk j
      ON b.event_type IS NOT DISTINCT FROM j.event_type
     AND b.channel IS NOT DISTINCT FROM j.channel
    """)
def q_join_nullsafe_junk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/W1/A7 — the junk-dimension pattern (Stage_area.sql:262-283):
    DISTINCT low-cardinality combos get a surrogate key, then link
    back with NULL-safe equality (`<=>`; MariaDB spells it
    `(a IS NULL AND b IS NULL) OR a=b`)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    base = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.upper("event_type"))
        .alias("channel"),
    )
    w = Window.orderBy(F.col("event_type").asc_nulls_first(), F.col("channel").asc_nulls_first())
    junk = (
        base.select("event_type", "channel")
        .distinct()
        .select(
            F.row_number().over(w).alias("junk_id"),
            F.col("event_type").alias("j_event_type"),
            F.col("channel").alias("j_channel"),
        )
    )
    out = base.join(
        F.broadcast(junk),
        base["event_type"].eqNullSafe(junk["j_event_type"])
        & base["channel"].eqNullSafe(junk["j_channel"]),
        "inner",
    )
    return out.select("event_id", "junk_id")


#: q_anti_new_dates' DuckDB oracle, preserved after its round-12
#: registry retirement (slot went to q_snapshot_diff) — the
#: cross-engine value check survives in tests/test_retired_parity.py.
SQL_ANTI_NEW_DATES = """
    SELECT DISTINCT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS new_date
    FROM lineitem
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE CAST(o.o_orderdate AS DATE) = CAST(l_shipdate AS DATE))
    """


def q_anti_new_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — insert-if-absent anti-join (the dim_date top-up,
    Stage_area.sql:299-301 / DWH.sql:134-135): distinct new keys with
    no match in the existing set. Output date formatted as a string:
    DATE columns surface differently across client fetch paths
    (datetime64 vs date objects).

    Round-12 registry retirement (cap is 50; slot went to
    q_snapshot_diff): the anti-join operator shape keeps THREE
    registered witnesses — q_orphan_cleanup (J10's left-anti
    keep/drop recompute), q_qa_orphan_report (six anti-join probe
    branches) and q_expectations (broadcast-anti referential
    probes) — and the NOT-EXISTS insert-if-absent form already has
    its sibling full oracle in tests/test_retired_parity.py
    (q_insert_if_absent/SQL_INSERT_IF_ABSENT). This query's own
    comparison joins them there against SQL_ANTI_NEW_DATES."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    new = t["lineitem"].select(F.col("l_shipdate").cast("date").alias("new_date")).distinct()
    existing = t["orders"].select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    return (
        new.join(existing, new["new_date"] == existing["d"], "left_anti")
        .select(F.date_format("new_date", "yyyy-MM-dd").alias("new_date"))
    )


SQL_SEMI_VALID_FACT = """
    SELECT l.l_orderkey, l.l_linenumber
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey
                    AND o.o_orderstatus = 'F')
    """


def q_semi_valid_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10/J11 keep-side — semi-join: fact rows whose FK matches a
    (filtered) dim (the recompute form of DWH.sql:150-152's
    anti-join DELETE).

    Round-8 registry retirement (cap is 50; the slot went to
    q_bpe_encode): hash-checked for seven straight rounds on a
    frozen implementation. Witness: q_orphan_cleanup carries the
    registered J10 keep/drop recompute (its LEFT-join survivor
    filter IS this semi-join unioned with the NULL-FK branch), and
    the star pipeline's orphan deletes exercise the sibling
    keep/drop path e2e. The full oracle comparison stays live in
    tests/test_retired_parity.py against SQL_SEMI_VALID_FACT."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    dim = t["orders"].filter(F.col("o_orderstatus") == "F")
    out = t["lineitem"].join(
        dim, t["lineitem"]["l_orderkey"] == dim["o_orderkey"], "left_semi"
    )
    return out.select("l_orderkey", "l_linenumber")


@register("q_orphan_cleanup", oracle="""
    WITH f AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_suppkey % 10 = 0 THEN NULL
                  ELSE l_suppkey END AS supp_fk
      FROM lineitem),
    d AS (SELECT DISTINCT s_suppkey FROM supplier WHERE s_nationkey < 13)
    SELECT f.l_orderkey, f.l_linenumber, f.supp_fk
    FROM f LEFT JOIN d ON f.supp_fk = d.s_suppkey
    WHERE f.supp_fk IS NULL OR d.s_suppkey IS NOT NULL
    """)
def q_orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10/M6 — orphan-cleanup DELETE as a pure recompute
    (DWH.sql:150-177): drop fact rows whose NON-NULL FK misses the
    dim; NULL-FK rows survive (`AND f.key IS NOT NULL` in the
    reference's DELETE)."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    fact = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_suppkey") % 10 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("l_suppkey"))
        .alias("supp_fk"),
    )
    dim = t["supplier"].filter(F.col("s_nationkey") < 13)
    out = joins.orphan_cleanup(fact, dim, "supp_fk", "s_suppkey")
    return out.select("l_orderkey", "l_linenumber", "supp_fk")


SQL_INSERT_IF_ABSENT = """
    SELECT r_regionkey, r_name FROM region
    UNION ALL
    SELECT -1 AS r_regionkey, 'UNKNOWN' AS r_name
    WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_name = 'UNKNOWN')
    """


def q_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/S4 — conditional fallback-row insert via NOT EXISTS
    (DWH.sql:138-144 'Unknown concept'; Stage_area.sql:112-113 the
    literal row). The existence probe is a driver-side scalar on an
    aggressively-filtered dim — O(dim) once, not per-row.

    Round-8 registry retirement (cap is 50; the slot went to
    q_paragraph_dedup): hash-checked for seven straight rounds on a
    frozen implementation. Witness: q_anti_new_dates carries the
    registered anti-join insert-only-what's-missing shape (J8, the
    set-level generalization of this single-literal-row probe), and
    the star pipeline's Unknown-concept row stays covered by the e2e
    QA probes. The full oracle comparison stays live in
    tests/test_retired_parity.py against SQL_INSERT_IF_ABSENT."""
    region = load_tables(spark, sf_dir, ("region",))["region"]
    missing = region.filter(F.col("r_name") == "UNKNOWN").limit(1).count() == 0
    base = region.select("r_regionkey", "r_name")
    if not missing:
        return base
    unknown = local_frame(
        spark, [(-1, "UNKNOWN")], base.select(F.col("r_regionkey").cast("int"), "r_name").schema
    )
    return base.select(F.col("r_regionkey").cast("int"), "r_name").unionByName(unknown)


#: q_scalar_lookup_default's DuckDB oracle, preserved after its
#: round-12 registry retirement (slot went to q_freshness_report per
#: the round-11 verdict item 1) — the cross-engine value check
#: survives in tests/test_retired_parity.py.
SQL_SCALAR_LOOKUP_DEFAULT = """
    SELECT l.l_orderkey, l.l_linenumber,
           coalesce(p.p_partkey, (SELECT min(p_partkey) FROM part)) AS concept_key
    FROM lineitem l
    LEFT JOIN (SELECT * FROM part WHERE p_size > 40) p
      ON l.l_partkey = p.p_partkey
    """


def q_scalar_lookup_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12/M2/P8 — scalar-subquery default: unmatched lookups get a
    looked-up constant (Stage_area.sql:225-231 'Unknown concept'
    UPDATE). The scalar is fetched driver-side (one-row job) and
    folded into a coalesce literal.

    Round-12 registry retirement (cap is 50; the slot went to
    q_freshness_report): hash-checked for eleven straight rounds on
    a frozen implementation. Witnesses: q_expectations' registered
    broadcast-anti referential probes keep the filtered-dim lookup
    shape under the hash gate, the star pipeline's 'Unknown concept'
    default runs e2e every round (star.py), and the COALESCE-default
    P8 expression family stays cross-engine value-checked here via
    SQL_SCALAR_LOOKUP_DEFAULT in tests/test_retired_parity.py."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    dim = t["part"].filter(F.col("p_size") > 40)
    joined = t["lineitem"].join(
        F.broadcast(dim), t["lineitem"]["l_partkey"] == dim["p_partkey"], "left"
    )
    default = t["part"].agg(F.min("p_partkey")).first()[0]
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.col("p_partkey"), F.lit(default)).alias("concept_key"),
    )


#: q_range_join's DuckDB oracle, preserved after its round-9
#: registry retirement (slot went to the round-8 verdict's named
#: candidates; witnesses: q_asof_next_order keeps the registered
#: interval-join machinery under the hash gate, and
#: joins.range_join_binned itself stays under hypothesis brute-force
#: equality in tests/test_properties.py). The full cross-engine
#: value check stays live in tests/test_retired_parity.py.
SQL_RANGE_JOIN = """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey AS window_order
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey < 100) o
      ON l.l_shipdate BETWEEN o.o_orderdate
                          AND o.o_orderdate + INTERVAL 7 DAY
    """


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key): every lineitem shipped within a
    week of each probe order's date. Naive Spark plans this as a
    nested-loop; joins.range_join_binned makes it a hash join on bin
    ids, self-tuning the bin width to the sampled median interval
    length (here that lands on the 7-day window itself)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    left = t["lineitem"].select(
        "l_orderkey", "l_linenumber", F.unix_timestamp("l_shipdate").alias("ship_s")
    )
    right = (
        t["orders"]
        .filter(F.col("o_orderkey") < 100)
        .select(
            F.col("o_orderkey").alias("window_order"),
            F.unix_timestamp("o_orderdate").alias("lo_s"),
            (F.unix_timestamp("o_orderdate") + 7 * 86400).alias("hi_s"),
        )
    )
    out = joins.range_join_binned(left, right, "ship_s", "lo_s", "hi_s")
    return out.select("l_orderkey", "l_linenumber", "window_order")


#: fuzzy-match knobs: two-key blocking (nation x market segment) and
#: the standard typo radius
FUZZY_MAX_DIST = 2


@register("q_fuzzy_match", oracle=f"""
    WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment
               FROM customer)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
     AND abs(length(a.c_name) - length(b.c_name)) <= {FUZZY_MAX_DIST}
    WHERE levenshtein(a.c_name, b.c_name) <= {FUZZY_MAX_DIST}
    """)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution on the customer dimension — find
    likely-duplicate customer records whose names differ by at most
    {FUZZY_MAX_DIST} edits, blocked on (nation, market segment). The
    fuzzy escalation of the reference's normalize-then-join cleansing
    idiom (Stage_area.sql:219-220): J4's TRIM(LOWER()) catches
    formatting variants; edit distance catches typos — the
    duplicate-patient detection every clinical MDM/DWH load runs.

    Plan (joins.fuzzy_blocked_pairs): equi self-join on the blocking
    keys (hash-partitioned, never all-pairs), a<b halving, and a
    length-band prune BEFORE the O(len^2) levenshtein DP — the
    expensive scalar runs only on surviving candidates. Levenshtein
    is the identical unit-cost edit distance in both engines, so the
    pair set and distances hash-compare exactly."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    pairs = joins.fuzzy_blocked_pairs(
        fan_out(cust, "c_custkey"),
        id_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_dist=FUZZY_MAX_DIST,
    )
    return pairs.select(
        F.col("id_a"),
        F.col("id_b"),
        "name_a",
        "name_b",
        F.col("edit_dist").cast("int").alias("edit_dist"),
    )
