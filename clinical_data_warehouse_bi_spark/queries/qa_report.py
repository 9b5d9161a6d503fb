"""QA-suite queries (SURVEY.md sections 2.3 J11, 2.4 A3-A6, 2.7 U1)
— the reference's QA.sql reconciliation suite re-expressed on the
driver star schema. These both exercise operators and ARE the
engine's data-quality surface. Most wrap qa.py's schema-agnostic
operators (expectation_report, pivot_report, outlier_report,
benford_profile, freshness_report, snapshot_diff) around the driver's
tables."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import load_tables
from clinical_data_warehouse_bi_spark.registry import register


@register("q_qa_orphan_report", oracle="""
    SELECT 'lineitem->orders' AS check_name, count(*) AS orphan_rows
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem->part', count(*)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_partkey IS NULL
    UNION ALL
    SELECT 'orders->customer', count(*)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'customer->nation', count(*)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'supplier->nation', count(*)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'nation->region', count(*)
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_regionkey IS NULL
    """)
def q_qa_orphan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/U1 — referential-integrity orphan probes (QA.sql:79-116):
    six LEFT JOIN ... IS NULL counts stacked with UNION ALL.

    Implemented as left_anti + count (same semantics, and the anti
    join never materializes matched rows). Dim side broadcast."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "part", "customer", "supplier", "nation", "region")
    )

    def probe(name: str, fact: DataFrame, fk: str, dim: DataFrame, key: str) -> DataFrame:
        orphans = fact.join(
            F.broadcast(dim), fact[fk] == dim[key], "left_anti"
        ).agg(F.count("*").alias("orphan_rows"))
        return orphans.select(F.lit(name).alias("check_name"), "orphan_rows")

    reports = [
        probe("lineitem->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        probe("lineitem->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        probe("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        probe("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        probe("supplier->nation", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
        probe("nation->region", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
    ]
    return reduce(lambda a, b: a.unionByName(b), reports)


#: q_qa_rowcount_report's DuckDB oracle, preserved after its round-8
#: registry retirement (witness: q_expectations carries the identical
#: two-level distinct-key aggregation as its `unique:` checks, plus
#: the full comparison below stays live in tests/test_retired_parity.py)
SQL_QA_ROWCOUNT = """
    SELECT 'lineitem' AS table_name, count(*) AS total_rows,
           count(DISTINCT (l_orderkey, l_linenumber)) AS distinct_keys,
           count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS diff_rows
    FROM lineitem
    UNION ALL
    SELECT 'orders', count(*), count(DISTINCT o_orderkey),
           count(*) - count(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'customer', count(*), count(DISTINCT c_custkey),
           count(*) - count(DISTINCT c_custkey) FROM customer
    UNION ALL
    SELECT 'part', count(*), count(DISTINCT p_partkey),
           count(*) - count(DISTINCT p_partkey) FROM part
    UNION ALL
    SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
           count(*) - count(DISTINCT s_suppkey) FROM supplier
    UNION ALL
    SELECT 'nation', count(*), count(DISTINCT n_nationkey),
           count(*) - count(DISTINCT n_nationkey) FROM nation
    """


def q_qa_rowcount_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/F14/U1 — row-count reconciliation (QA.sql:13-59): per-table
    total vs distinct-key counts with a diff column (stage-vs-DWH
    dedup accounting in the reference).

    Scale shape: ONE job for all six tables. Each table projects just
    its key columns (conformed to an int tag + two bigints, so the
    shuffle rows are 20 bytes), the union flows through a single
    keyed aggregation (map-side partial dedup -> one exchange of
    distinct keys), and the per-table totals fall out of the same
    per-key counts. Replaces six separate full-table repartition
    jobs — same answers, one barrier, ~half the wall clock, and no
    driver-side partition probing."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "part", "supplier", "nation")
    )
    specs = [
        ("lineitem", t["lineitem"], ["l_orderkey", "l_linenumber"]),
        ("orders", t["orders"], ["o_orderkey"]),
        ("customer", t["customer"], ["c_custkey"]),
        ("part", t["part"], ["p_partkey"]),
        ("supplier", t["supplier"], ["s_suppkey"]),
        ("nation", t["nation"], ["n_nationkey"]),
    ]
    parts = []
    for i, (name, df, keys) in enumerate(specs):
        k1 = F.col(keys[0]).cast("bigint").alias("k1")
        k2 = (F.col(keys[1]) if len(keys) > 1 else F.lit(0)).cast("bigint").alias("k2")
        parts.append(df.select(F.lit(i).cast("int").alias("tag"), k1, k2))
    allk = reduce(lambda a, b: a.unionByName(b), parts)
    per_key = allk.groupBy("tag", "k1", "k2").agg(F.count("*").alias("c"))
    rep = per_key.groupBy("tag").agg(
        F.sum("c").cast("bigint").alias("total_rows"),
        F.count("*").alias("distinct_keys"),
    )
    name_expr = F.element_at(
        F.array(*[F.lit(name) for name, _, _ in specs]), F.col("tag") + 1
    )
    return rep.select(
        name_expr.alias("table_name"),
        "total_rows",
        "distinct_keys",
        (F.col("total_rows") - F.col("distinct_keys")).alias("diff_rows"),
    )


#: q_qa_agg_consistency's DuckDB oracle, preserved after its round-8
#: registry retirement (witness: q_expectations' `cross_sum:` check is
#: the same two-scalar-aggregate reconciliation shape; the full
#: comparison below stays live in tests/test_retired_parity.py)
SQL_QA_AGG_CONSISTENCY = """
    WITH agg AS (SELECT l_orderkey, count(*) AS total_events
                 FROM lineitem GROUP BY l_orderkey)
    SELECT (SELECT count(*) FROM lineitem) AS fact_rows,
           (SELECT CAST(sum(total_events) AS BIGINT) FROM agg) AS agg_total,
           (SELECT count(*) FROM lineitem)
             - (SELECT CAST(sum(total_events) AS BIGINT) FROM agg) AS diff
    """


def q_qa_agg_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/F14 — fact-vs-aggregate consistency (QA.sql:67-71):
    COUNT(*) of the fact == SUM(total_events) of the pre-agg table;
    expected diff 0."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    agg = li.groupBy("l_orderkey").agg(F.count("*").alias("total_events"))
    fact_rows = li.agg(F.count("*").alias("fact_rows"))
    agg_total = agg.agg(F.sum("total_events").cast("bigint").alias("agg_total"))
    return fact_rows.crossJoin(agg_total).select(
        "fact_rows",
        "agg_total",
        (F.col("fact_rows") - F.col("agg_total")).alias("diff"),
    )


#: fixed expectation suite over the star schema — the declarative
#: generalization of the reference's QA probes (QA.sql:13-116)
EXPECTATION_SPEC: list[dict] = [
    {"check": "not_null", "table": "orders", "column": "o_custkey"},
    {"check": "not_null", "table": "lineitem", "column": "l_quantity"},
    {"check": "accepted_range", "table": "lineitem", "column": "l_quantity",
     "lo": 1.0, "hi": 50.0},
    {"check": "accepted_range", "table": "lineitem", "column": "l_discount",
     "lo": 0.0, "hi": 0.1},
    {"check": "accepted_values", "table": "orders",
     "column": "o_orderstatus", "values": ["O", "F", "P"]},
    {"check": "accepted_values", "table": "lineitem",
     "column": "l_returnflag", "values": ["A", "N", "R"]},
    {"check": "unique", "table": "orders", "columns": ["o_orderkey"]},
    {"check": "unique", "table": "lineitem",
     "columns": ["l_orderkey", "l_linenumber"]},
    {"check": "referential", "table": "orders", "column": "o_custkey",
     "ref_table": "customer", "ref_column": "c_custkey"},
    {"check": "referential", "table": "lineitem", "column": "l_orderkey",
     "ref_table": "orders", "ref_column": "o_orderkey"},
    {"check": "cross_sum", "name": "orders_vs_fact_orders",
     "table": "lineitem", "expr": "count(distinct l_orderkey)",
     "other_table": "orders", "other_expr": "count(*)"},
]


@register("q_expectations", oracle="""
    WITH checks AS (
      SELECT 'not_null:orders.o_custkey' AS check_name,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
             count(*) AS total_rows
      FROM orders
      UNION ALL
      SELECT 'not_null:lineitem.l_quantity',
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(*) FROM lineitem
      UNION ALL
      SELECT 'accepted_range:lineitem.l_quantity',
             CAST(sum(CASE WHEN l_quantity IS NOT NULL
                            AND (l_quantity < 1.0 OR l_quantity > 50.0)
                           THEN 1 ELSE 0 END) AS BIGINT),
             count(*) FROM lineitem
      UNION ALL
      SELECT 'accepted_range:lineitem.l_discount',
             CAST(sum(CASE WHEN l_discount IS NOT NULL
                            AND (l_discount < 0.0 OR l_discount > 0.1)
                           THEN 1 ELSE 0 END) AS BIGINT),
             count(*) FROM lineitem
      UNION ALL
      SELECT 'accepted_values:orders.o_orderstatus',
             CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT),
             count(*) FROM orders
      UNION ALL
      SELECT 'accepted_values:lineitem.l_returnflag',
             CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                            AND l_returnflag NOT IN ('A','N','R')
                           THEN 1 ELSE 0 END) AS BIGINT),
             count(*) FROM lineitem
      UNION ALL
      SELECT 'unique:orders.o_orderkey',
             count(*) - count(DISTINCT o_orderkey), count(*) FROM orders
      UNION ALL
      SELECT 'unique:lineitem.l_orderkey+l_linenumber',
             count(*) - count(DISTINCT (l_orderkey, l_linenumber)),
             count(*) FROM lineitem
      UNION ALL
      SELECT 'referential:orders.o_custkey->customer.c_custkey',
             (SELECT count(*) FROM orders o
              LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL),
             (SELECT count(*) FROM orders)
      UNION ALL
      SELECT 'referential:lineitem.l_orderkey->orders.o_orderkey',
             (SELECT count(*) FROM lineitem l
              LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL),
             (SELECT count(*) FROM lineitem)
      UNION ALL
      SELECT 'cross_sum:orders_vs_fact_orders',
             abs(CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem) AS BIGINT)
                 - CAST((SELECT count(*) FROM orders) AS BIGINT)),
             (SELECT count(DISTINCT l_orderkey) FROM lineitem)
    )
    SELECT check_name, violations, total_rows, violations = 0 AS passed
    FROM checks
    """)
def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (beyond-reference): the
    reference's QA probes generalized into a compiled check spec —
    null/range/values checks fused into ONE aggregation per table,
    uniqueness via the two-level distinct aggregation (witnessing the
    retired q_qa_rowcount_report), broadcast-anti referential checks
    (J11 shape), and a two-scalar cross_sum reconciliation
    (witnessing the retired q_qa_agg_consistency, A4/QA.sql:67-71).

    Scale shape (round-10 compiler): every scalar-expressible check
    is an aggregate over ONE one-row-per-table wide relation — the
    11 checks cost 2 table scans (one wide aggregate each for
    lineitem and orders, carrying unique + row flags +
    count(*)/count(DISTINCT key) cross-sum sides) + 2 broadcast
    anti-join probes, assembled by 1-row crossJoins and emitted with
    a single inline() (plan-locked scan counts in tests/
    test_plans.py). Independent of how many row-expression checks
    the suite grows."""
    from clinical_data_warehouse_bi_spark import qa

    t = load_tables(spark, sf_dir, ("orders", "lineitem", "customer"))
    return qa.expectation_report(t, EXPECTATION_SPEC)


# ---------------------------------------------------------------------------
# BI pivot (cross-tab) — qa.pivot_report under the hash gate
# ---------------------------------------------------------------------------

#: explicit pivot values (pivot_report requires a bounded, declared
#: value set — the schema must be data-independent)
PIVOT_FLAGS = ["A", "N", "R"]


def _pivot_oracle() -> str:
    cols = []
    for v in PIVOT_FLAGS:
        cols.append(
            f"sum(CASE WHEN l_returnflag = '{v}' THEN l_quantity END)"
            f" AS {v}_sum_l_quantity"
        )
        cols.append(
            f"max(CASE WHEN l_returnflag = '{v}' THEN l_extendedprice END)"
            f" AS {v}_max_l_extendedprice"
        )
        cols.append(
            f"count(CASE WHEN l_returnflag = '{v}' THEN l_orderkey END)"
            f" AS {v}_count_l_orderkey"
        )
    return (
        "SELECT year(l_shipdate) AS year_num,"
        " month(l_shipdate) AS month_num, "
        + ", ".join(cols)
        + " FROM lineitem GROUP BY 1, 2"
    )


@register("q_pivot_report", oracle=_pivot_oracle())
def q_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI cross-tab (qa.pivot_report): one row per ship-month, one
    aggregate column per (return flag x measure) — the pivot every
    BI frontend asks of the reference's pre-agg (DWH.sql:203-210
    grain, presented wide; the complement of q_rollup's grouping-set
    ladder).

    Scale shape: deliberately NOT DataFrame.pivot — Spark's
    pivotfirst plans TWO exchanges (pre-aggregate on (rows, pivot),
    re-group on rows) where conditional aggregation
    (agg(sum(when(p = v, x))) per declared value) is the same
    relation in ONE map-side-partial pass, plan-locked in
    tests/test_properties.py. The oracle is the literal CASE-WHEN twin,
    so the hash gate pins every cell expression-for-expression.
    Measures chosen parity-exact: l_quantity is integral (sums exact
    in double at any parallelism), max and count are order-free."""
    from clinical_data_warehouse_bi_spark import qa

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    d = li.select(
        F.year("l_shipdate").alias("year_num"),
        F.month("l_shipdate").alias("month_num"),
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        "l_orderkey",
    )
    return qa.pivot_report(
        d,
        ["year_num", "month_num"],
        "l_returnflag",
        PIVOT_FLAGS,
        {"l_quantity": "sum", "l_extendedprice": "max", "l_orderkey": "count"},
    )


@register("q_outlier_report", oracle="""
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             year(l_shipdate) * 100 + month(l_shipdate) AS ship_month
      FROM lineitem),
    med AS (
      SELECT ship_month, median(l_extendedprice) AS med
      FROM base GROUP BY ship_month),
    stats AS (
      SELECT b.ship_month, any_value(m.med) AS med,
             median(abs(b.l_extendedprice - m.med)) AS mad
      FROM base b JOIN med m
        ON b.ship_month IS NOT DISTINCT FROM m.ship_month
      GROUP BY b.ship_month)
    SELECT b.l_orderkey, b.l_linenumber, b.ship_month,
           CAST(CASE WHEN mad > 0 THEN
                sign(0.6745 * (l_extendedprice - med) / mad)
                * floor(abs(0.6745 * (l_extendedprice - med) / mad)
                        * 1e9 + 0.5) END AS BIGINT) AS z_e9,
           CASE WHEN mad > 0
                THEN abs(0.6745 * (l_extendedprice - med) / mad) > 3.5
                ELSE l_extendedprice <> med END AS is_outlier
    FROM base b JOIN stats s
      ON b.ship_month IS NOT DISTINCT FROM s.ship_month
    """)
def q_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier flags via qa.outlier_report — the
    modified z-score (Iglewicz & Hoaglin 1993: 0.6745*(x-median)/MAD,
    flagged beyond 3.5) over lineitem prices per SHIPPING MONTH (the
    monthly data-quality screen). Registered round 11 per the
    round-10 verdict (item 4) after three rounds as a named
    candidate; the NULL-group-key semantics fix (median/MAD ride the
    window partitioning, no join back) is pinned by
    tests/test_properties.py. The oracle joins with IS NOT DISTINCT
    FROM (round-11 ADVICE): a plain USING join would drop NULL group
    keys that the window partitioning keeps, so the oracle now pins
    the NULL-group contract instead of relying on the fixture's
    NOT-NULL l_shipdate.

    Quantization: z is emitted as sign(z)*floor(abs(z)*1e9 + 0.5)
    BIGINT (a "nano-z"), NOT a decimal(28,N) cast — pure IEEE double
    ops that both engines evaluate bit-identically on the
    bit-identical z (percentile/median interpolate identically on
    the same doubles, verified). A decimal cast carries each
    engine's TIE rule (Spark HALF_UP vs DuckDB half-to-even), and at
    sf0.1 one z landed exactly on a 9th-decimal half
    (-1.2197578125) and broke the hash — floor has one defined
    result, so no tie can exist.

    Scale shape: the median and MAD ride ONE window exchange
    partitioned by the group column; the second window reuses the
    first's sort, there is no join back, and NULL group keys form
    their own group exactly as groupBy would. The demo groups by
    ship MONTH (~84 groups) rather than the 3-value return flag
    precisely because window-partitioned percentiles put each
    group's values on one executor: group count IS the parallelism,
    and a time-bucketed key keeps per-group state bounded as the
    corpus grows (months grow in number, not in size-per-month,
    under a steady event rate). For ONE giant continuous group,
    q_percentiles' bounded-state refinement is the registered
    alternative.

    Reference analogue: QA.sql's screening probes, extended from
    referential orphans to distributional anomalies."""
    from clinical_data_warehouse_bi_spark import qa

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("bigint").alias("ship_month"),
    )
    out = qa.outlier_report(li, "l_extendedprice", ["ship_month"])
    z = F.col("modified_z")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "ship_month",
        (F.signum(z) * F.floor(F.abs(z) * F.lit(1e9) + F.lit(0.5)))
        .cast("bigint").alias("z_e9"),
        "is_outlier",
    )


SQL_BENFORD = """
    WITH u AS (
      SELECT CAST(floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0
                        + 0.5) AS BIGINT) AS units
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL),
    v AS (
      SELECT CAST(substring(CAST(units AS VARCHAR), 1, 1) AS INT) AS digit
      FROM u WHERE units > 0)
    SELECT digit, count(*) AS n,
           CAST(CAST(count(*) / sum(count(*)) OVER ()
                AS DECIMAL(28,12)) AS VARCHAR) AS observed_p_q,
           CAST(CAST(log10(1.0 + 1.0 / digit)
                AS DECIMAL(28,12)) AS VARCHAR) AS expected_p_q
    FROM v GROUP BY digit
    """


@register("q_benford", oracle=SQL_BENFORD)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit Benford screen (qa.benford_profile)
    over lineitem prices — the fabricated-numbers / data-entry audit
    probe (Nigrini's practice). REGISTERED round 12 (round-11
    verdict item 1) after three rounds as the staged named
    candidate; slot freed by retiring q_calendar_dim (witnesses in
    its docstring). The full oracle comparison against SQL_BENFORD
    runs in tests/test_oracle_parity.py (or, in a round it donates
    its slot, test_retired_parity.py's donor check), and the
    digit-law value checks in tests/test_properties.py. Probabilities
    quantized decimal(28,12)->string per the cross-engine convention.

    Digit derivation is the EXACT integer path (``int_scale=2``:
    prices quantized to cents, first char of the integer's decimal
    string) — the round-11 ADVICE fix: floor(log10(x)) is libm and
    can flip the digit bucket cross-engine at exact powers of 10,
    and double->string rendering diverges too (JDK-4511638), while
    IEEE multiply/floor + integer-to-string has one defined result
    in both engines.

    Scale shape: digit extraction is one per-row JVM expression, then
    ONE groupBy over a 9-value key space (map-side partials reduce
    each partition to <=9 rows); the total rides a window over the
    9-row relation, never a second scan."""
    from clinical_data_warehouse_bi_spark import qa

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    out = qa.benford_profile(li, "l_extendedprice", int_scale=2)
    return out.select(
        "digit",
        "n",
        F.col("observed_p").cast("decimal(28,12)").cast("string")
        .alias("observed_p_q"),
        F.col("expected_p").cast("decimal(28,12)").cast("string")
        .alias("expected_p_q"),
    )


#: skew-screen demo size: top-N heaviest join keys
SKEW_TOP_N = 20

SQL_SKEW_REPORT = f"""
    WITH hist AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
    tot AS (SELECT sum(n)::DOUBLE AS total, avg(n) AS avg_n FROM hist)
    SELECT o_custkey, n,
           CAST(floor(n / total * 1e9 + 0.5) AS BIGINT) AS share_e9,
           CAST(least(256, greatest(1, ceil(n / avg_n))) AS BIGINT)
             AS suggested_salt
    FROM hist, tot
    ORDER BY n DESC, o_custkey ASC LIMIT {SKEW_TOP_N}
    """


@register("q_skew_report", oracle=SQL_SKEW_REPORT)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation skew screen as a relation: the top-{SKEW_TOP_N}
    heaviest join keys (orders per customer) with their row share and
    the per-key salt factor that would level them to average — the
    input to the plan choice (broadcast vs AQE skew-split vs
    explicit salting) and the diagnostic a 100 TB join runs BEFORE
    discovering its hot key the slow way. REGISTERED round 12
    (round-11 verdict item 1); slot freed by retiring
    q_stream_dedup_dual (witness in its docstring). The full oracle
    comparison against SQL_SKEW_REPORT runs in
    tests/test_oracle_parity.py.

    Quantization: share is floor(n/total * 1e9 + 0.5) BIGINT — n and
    total are exact integers, the division is one IEEE op, and floor
    has one defined result in both engines (the q_outlier_report
    z_e9 convention; a decimal cast would consult each engine's tie
    rule). suggested_salt = least(256, greatest(1, ceil(n / avg_n))),
    where avg_n is the mean rows per key: the number of salt shards
    that would bring this key down to an average key's size.

    Scale shape: ONE groupBy to the per-key histogram (map-side
    partials), scalar totals as a 1-row broadcast over the
    histogram, TakeOrdered top-N with a deterministic (n DESC, key
    ASC) total order. Only N rows reach the driver. The histogram is
    persisted across its two consumers (the scalar-total reduction
    and the final projection) — round-11 ADVICE: exchange reuse is
    not guaranteed across a broadcast-subtree boundary, and without
    the persist the orders scan + groupBy would run twice. A global
    window over the histogram would fuse the passes but serialize
    n_keys rows through one partition — wrong at scale; the slim
    (key, n) relation is cheap to persist."""

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    hist = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).persist()
    tot = hist.agg(
        F.sum("n").cast("double").alias("total"),
        F.avg("n").alias("avg_n"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "n",
            F.floor(F.col("n") / F.col("total") * F.lit(1e9) + F.lit(0.5))
            .cast("bigint").alias("share_e9"),
            F.least(
                F.lit(256),
                F.greatest(F.lit(1), F.ceil(F.col("n") / F.col("avg_n"))),
            ).cast("bigint").alias("suggested_salt"),
        )
        .orderBy(F.desc("n"), F.asc("o_custkey"))
        .limit(SKEW_TOP_N)
    )


#: freshness demo parameters: a fixed as-of (reproducibility rule —
#: never now()) one hour past the fixture's last event, 24h window
FRESHNESS_AS_OF = "2024-01-31 01:00:00"
FRESHNESS_HOURS = 24

SQL_FRESHNESS = f"""
    SELECT event_type,
           count(*) AS n_rows,
           min(ts) AS oldest,
           max(ts) AS newest,
           (CAST(floor(epoch(TIMESTAMP '{FRESHNESS_AS_OF}')) AS BIGINT)
            - CAST(floor(epoch(max(ts))) AS BIGINT)) / 3600.0 AS lag_hours,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '{FRESHNESS_AS_OF}'
                               - INTERVAL {FRESHNESS_HOURS} HOUR
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_last_{FRESHNESS_HOURS}h
    FROM events GROUP BY event_type
    """


@register("q_freshness_report", oracle=SQL_FRESHNESS)
def q_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit (qa.freshness_report): per event source,
    newest/oldest event, the lag from a FIXED as-of to the newest
    event, and the trailing-24h row count — the on-call's first
    check when a dashboard flatlines. REGISTERED round 12 (round-11
    verdict item 1); slot freed by retiring q_scalar_lookup_default
    (witnesses in its docstring). The full oracle comparison against
    SQL_FRESHNESS runs in tests/test_oracle_parity.py.

    Cross-engine notes: as_of is an explicit literal (the repo's
    reproducibility rule — never now()); the lag mirrors Spark's
    unix_timestamp() second-truncation with floor(epoch(..)) on the
    DuckDB side (all fixture timestamps are post-1970, so floor ==
    trunc), and the final division is one IEEE op over exact
    integers — deterministic in both engines, no quantization
    needed.

    Scale shape: ONE fused aggregation — min/max/conditional-count
    share the single scan and one group exchange; no window, no
    second pass."""
    from clinical_data_warehouse_bi_spark import qa

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return qa.freshness_report(
        ev,
        "ts",
        FRESHNESS_AS_OF,
        "event_type",
        recent_hours=FRESHNESS_HOURS,
    )


# ---------------------------------------------------------------------------
# Round-12 registration: row-level snapshot diff. Slot freed by
# retiring q_anti_new_dates (witnesses in its docstring,
# queries/join_ops.py). The full oracle comparison runs in
# tests/test_oracle_parity.py.
# ---------------------------------------------------------------------------

#: key shift for the demo's simulated late-arriving rows — above any
#: test-sf orderkey span (a production caller diffs REAL snapshots;
#: the shift exists only so one fixture yields both table versions)
SNAPDIFF_SHIFT = 1_000_000_000

#: the shared canonical fingerprint: every compared column rendered
#: cross-engine-deterministically (ints/strings as-is, price
#: quantized to cents with the floor(x*100+0.5) benford convention,
#: timestamp via CAST-to-string — hash-green since
#: q_sentinel_timestamps), NULLs as the chr(0) sentinel, joined on
#: chr(1) so field boundaries never ambiguate (both engines' concat_ws
#: SKIPS bare NULLs, which would merge adjacent fields)
def _fp_sql(str_type: str) -> str:
    """Canonical row-fingerprint expression, parameterized on the
    engine's string type name ('VARCHAR' for the DuckDB oracle,
    'STRING' for Spark) — built per-engine instead of token surgery
    on a shared literal, so a future VARCHAR elsewhere in the
    expression can never be rewritten silently (round-12 advice)."""
    return (
        "md5(concat_ws(chr(1),"
        f" coalesce(CAST(o_custkey AS {str_type}), chr(0) || 'null'),"
        " coalesce(o_orderstatus, chr(0) || 'null'),"
        " coalesce(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        f"   AS {str_type}), chr(0) || 'null'),"
        f" coalesce(CAST(o_orderdate AS {str_type}), chr(0) || 'null'),"
        " coalesce(o_orderpriority, chr(0) || 'null')))"
    )


_FP_SQL = _fp_sql("VARCHAR")

SQL_SNAPSHOT_DIFF = f"""
    WITH old AS (
      SELECT o_orderkey, {_FP_SQL} AS fp FROM orders),
    new_rows AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 53 <> 0
      UNION ALL
      SELECT o_orderkey + {SNAPDIFF_SHIFT}, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 11 = 0),
    new AS (
      SELECT o_orderkey, {_FP_SQL} AS fp FROM new_rows)
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed' END AS change,
           o.fp AS fp_old, n.fp AS fp_new
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.fp <> n.fp
    """


@register("q_snapshot_diff", oracle=SQL_SNAPSHOT_DIFF)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot reconciliation (qa.snapshot_diff): which
    rows appeared, vanished, or changed in place between two
    versions of a table — the diff an incremental pipeline publishes
    alongside a refreshed corpus/dimension, and the row-grain
    companion of the registered scalar reconciliation probes
    (q_expectations' unique:/cross_sum: families). The demo derives
    the 'new' snapshot deterministically from the fixture (drop
    key%53, progress key%7's status+price, re-key key%11 as
    late-arriving inserts) so BOTH engines construct identical
    versions and the full classification is hash-checked.

    Fingerprint canonicalization is the caller's contract (see
    _FP_SQL): cents-floor for doubles, CAST-to-string timestamps,
    chr(0) NULL sentinels, chr(1) field separators — each one an
    already-hash-green repo convention.

    Scale shape (qa.snapshot_diff): both sides reduce map-side to
    slim (key, md5) projections — the payload never enters the
    exchange — then ONE null-safe full-outer join classifies every
    row; unchanged rows are filtered before materializing. Full
    outer cannot broadcast (both sides must survive), so the
    exchange is the minimum a row-level diff can ship; key-bucketed
    snapshots would join with zero exchange."""
    from clinical_data_warehouse_bi_spark import qa

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    key = F.col("o_orderkey")
    mutated = o.where(key % 53 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(key % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(key % 7 == 0, F.col("o_totalprice") + F.lit(10.0))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    added = o.where(key % 11 == 0).select(
        (key + F.lit(SNAPDIFF_SHIFT)).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    new = mutated.unionByName(added)
    fp = F.expr(_fp_sql("STRING"))
    return qa.snapshot_diff(
        o.withColumn("fp", fp),
        new.withColumn("fp", fp),
        ["o_orderkey"],
    )
