"""QA.sql as reusable DataFrame checks (SURVEY.md section 5). run_all
computes its four reports in ONE Spark action: an aggregate by (table
``g``, key), then by ``g``, over a union of slim ``(g, key, side, v)``
branches, one per stage table, DWH table, fact FK and pre-agg; no dim
is broadcast. QA.sql's NULL semantics hold: a NULL dim key is one GROUP
BY group, a NULL FK is an orphan (``LEFT JOIN ... USING`` never matches
NULL, QA.sql:88-92) and an empty pre-agg totals NULL."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from clinical_data_warehouse_bi_spark.io import local_frame

#: QA.sql's tables in report order; keyed dims: key, orphan/dup labels
_TABLES = [
    ("dim_patients", "patient_id", "Orphan patients", "Duplicate patients"),
    ("dim_admissions", "admission_id", "Orphan admissions", "Duplicate admissions"),
    ("dim_provider", None, None, None),
    ("dim_concepts", "clinical_concept_id", "Orphan concepts", "Duplicate concepts"),
    ("dim_date", "event_datetime", "Orphan dates", "Duplicate dates"),
    ("dim_junk_disorder_event", "junk_id", "Orphan junk_id", "Duplicate junk"),
    ("fact_disorder_events", None, None, None),
]


def _collect_counts(stage: dict[str, DataFrame], dwh: dict[str, DataFrame]) -> dict:
    """The shared aggregate, collected as counts per table; map-side
    partials cut each fact partition to its distinct FKs pre-exchange."""
    keys = {}  # g -> (key, lane type); the fact FK is cast to its dim's lane
    for g, (t, k, _, _) in enumerate(_TABLES):
        if k:
            dt = dwh[t].schema[k].dataType
            keys[g] = (k, "bigint" if isinstance(dt, IntegralType) else dt.simpleString())
    lanes = list(dict.fromkeys(ln for _, ln in keys.values()))

    def branch(df: DataFrame, g: int, side: int, keyed=False, v="NULL") -> DataFrame:
        key, lane = keys[g] if keyed else (None, None)
        ks = [f"CAST({key if ln == lane else 'NULL'} AS {ln}) AS k{i}"
              for i, ln in enumerate(lanes)]
        return df.selectExpr(f"{g} AS g", *ks, f"{side} AS side", f"CAST({v} AS BIGINT) AS v")

    branches = [branch(dwh["agg_disorders_per_admission"], len(_TABLES) - 1, 3, v="total_events")]
    for g, (t, _, _, _) in enumerate(_TABLES):
        branches += [branch(stage[t], g, 0), branch(dwh[t], g, 1, g in keys)]
        branches += [branch(dwh["fact_disorder_events"], g, 2, True)] if g in keys else []
    ks = [f"k{i}" for i in range(len(lanes))]
    per_key = reduce(DataFrame.union, branches).groupBy("g", *ks).agg(
        *[F.expr(f"count_if(side = {s}) AS n{s}") for s in range(3)], F.expr("sum(v) AS v")
    )
    null_key = " AND ".join(f"{k} IS NULL" for k in ks)
    totals = per_key.groupBy("g").agg(*[F.expr(e) for e in (
        "sum(n0) AS stage_rows", "sum(n1) AS dwh_rows", "count_if(n1 > 1) AS num_dupes",
        f"sum(IF(n1 = 0 OR ({null_key}), n2, 0)) AS orphans", "sum(v) AS agg_total",
    )])
    got = {r["g"]: r.asDict() for r in totals.collect()}
    zero = dict(stage_rows=0, dwh_rows=0, num_dupes=0, orphans=0, agg_total=None)
    return {t: got.get(g, zero) for g, (t, _, _, _) in enumerate(_TABLES)}


def rowcount_reconciliation(spark: SparkSession, counts: dict) -> DataFrame:
    """QA.sql:13-59 — stage vs DWH row counts of the 6 dims + fact."""
    rows = [(t, c["stage_rows"], c["dwh_rows"], c["stage_rows"] - c["dwh_rows"])
            for t, c in counts.items()]
    return local_frame(spark, rows, "table_name string NOT NULL, stage_rows bigint NOT NULL,"
                       " dwh_rows bigint NOT NULL, diff_rows bigint NOT NULL")


def fact_vs_agg(spark: SparkSession, counts: dict) -> DataFrame:
    """QA.sql:67-71 — COUNT(*) fact == SUM(total_events) agg."""
    n, total = (counts["fact_disorder_events"][c] for c in ("dwh_rows", "agg_total"))
    row = ("Fact vs Agg Total", n, total, None if total is None else n - total)
    return local_frame(spark, [row], "check_name string NOT NULL, fact_total_events bigint"
                       " NOT NULL, agg_total_events bigint, diff_events bigint")


def orphan_checks(spark: SparkSession, counts: dict) -> DataFrame:
    """QA.sql:79-116 — fact rows whose FK is NULL or matches no dim key."""
    rows = [(o, counts[t]["orphans"]) for t, _, o, _ in _TABLES if o]
    return local_frame(spark, rows, "issue string NOT NULL, num_records bigint NOT NULL")


def duplicate_checks(spark: SparkSession, counts: dict) -> DataFrame:
    """QA.sql:124-176 — the number of duplicated dim primary keys."""
    rows = [(d, counts[t]["num_dupes"]) for t, _, _, d in _TABLES if d]
    return local_frame(spark, rows, "issue string NOT NULL, num_dupes bigint NOT NULL")


def run_all(stage: dict[str, DataFrame], dwh: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """QA.sql's four reports from ONE Spark action (module docstring):
    each is a local relation over the counts, so collecting it runs no job."""
    counts, spark = _collect_counts(stage, dwh), dwh["fact_disorder_events"].sparkSession
    return {
        "rowcounts": rowcount_reconciliation(spark, counts),
        "fact_vs_agg": fact_vs_agg(spark, counts),
        "orphans": orphan_checks(spark, counts),
        "duplicates": duplicate_checks(spark, counts),
    }


# ---------------------------------------------------------------------------
# Declarative expectation suite (beyond-reference, round 8)
# ---------------------------------------------------------------------------
#
# Generalizes the reference's hand-written QA probes (QA.sql:13-116)
# into a compiled check suite, the Great-Expectations/dbt-test shape a
# warehouse team actually maintains. The compiler's scale contract:
#
#   * every row-expression check on a table (not_null, accepted_range,
#     accepted_values) folds into ONE aggregation pass over that table
#     - sum(violation_flag) columns + a shared count(*) - so a suite
#     of 20 column checks on a 100 TB fact costs one scan, not 20;
#   * unique checks compile to the two-level aggregation from
#     q_qa_rowcount_report (groupBy keys -> count, then one-row agg):
#     map-side partial dedup, never an Expand over the whole row.
#     When a table has BOTH a unique check and row-expression checks,
#     the row checks ride the unique check's first-level aggregation
#     (per-key partial flag sums) - one scan serves all of them;
#   * referential checks are broadcast left_anti counts (the dim side
#     is the small side by construction in a star schema);
#   * cross_sum checks (fact vs pre-aggregate reconciliation,
#     QA.sql:67-71) are two scalar aggregates cross-joined - O(1)
#     driver traffic.
#
# Each check yields (check_name, violations, total_rows, passed).

# Flags and report branches are built as SQL TEXT, not Column trees:
# each Python operator on a Column object is a py4j round-trip, and a
# full suite costs hundreds of them (~0.7 s of pure driver-side plan
# build, measured) — one F.expr parse per branch is the same plan for
# a fraction of the latency (the percentiles.py lesson, SURVEY #12).

def _sq(name: str) -> str:
    """Single-quoted SQL string literal (quotes doubled)."""
    return "'" + name.replace("'", "''") + "'"


def _inline_checks(rows: list[tuple[str, str, str]]) -> str:
    """inline(array(named_struct(...))) emitting one (check_name,
    violations, total_rows) row per entry, all from ONE parse."""
    structs = ", ".join(
        f"named_struct('check_name', {_sq(nm)}, 'violations',"
        f" CAST({viol} AS BIGINT), 'total_rows', CAST({tot} AS BIGINT))"
        for nm, viol, tot in rows
    )
    return f"inline(array({structs}))"


def _unique_per_key(
    df: DataFrame, cols: list[str], name_flags: list
) -> DataFrame:
    """Level-1 of the unique aggregation: one row per key tuple with
    its row count and the table's row-check partial sums. The wide
    second-level aggregate expectation_report builds over it answers
    the unique count, every row check, and the rebasable cross_sum
    sides (count(*), count(DISTINCT key-col)) from this ONE
    scan+exchange."""
    return df.groupBy(*cols).agg(
        F.expr("count(*) AS _c"),
        *[
            F.expr(f"sum(CAST(({flag}) AS BIGINT)) AS _v_{i}")
            for i, (_, flag) in enumerate(name_flags)
        ],
    )


def expectation_report(
    tables: dict[str, DataFrame], spec: list[dict]
) -> DataFrame:
    """Compile a declarative expectation spec into the minimal set of
    Spark jobs and return one row per check:
    (check_name, violations, total_rows, passed).

    Spec entries (dicts)::

        {"check": "not_null", "table": t, "column": c}
        {"check": "accepted_range", "table": t, "column": c,
         "lo": x | None, "hi": y | None}      # null passes; use
                                              # not_null to forbid it
        {"check": "accepted_values", "table": t, "column": c,
         "values": [...]}
        {"check": "unique", "table": t, "columns": [c, ...]}
        {"check": "referential", "table": t, "column": fk,
         "ref_table": d, "ref_column": k}     # null FK passes
        {"check": "cross_sum", "name": n, "table": a, "expr": sql_a,
         "other_table": b, "other_expr": sql_b}
                                              # violations = |a - b|,
                                              # total_rows = a
    """
    import re as _re

    per_table_flags: dict[str, list] = {}
    unique_specs: dict[str, list[list[str]]] = {}
    refs: list[dict] = []
    crosses: list[dict] = []

    # row-expression flags first; the loop below adds the rest
    _ROW_KINDS = ("not_null", "accepted_range", "accepted_values")
    _collect_row_flags(
        [e for e in spec if e["check"] in _ROW_KINDS], per_table_flags
    )

    for e in spec:
        kind = e["check"]
        if kind in _ROW_KINDS:
            continue
        if kind == "unique":
            unique_specs.setdefault(e["table"], []).append(e["columns"])
        elif kind == "referential":
            refs.append(e)
        elif kind == "cross_sum":
            crosses.append(e)
        else:
            raise ValueError(f"unknown expectation kind: {kind}")

    # Assembly principle: a union of per-check branches recomputes
    # shared sub-plans per branch (column pruning specializes each
    # branch's aggregate below the exchange, defeating ReusedExchange
    # — measured: 4 lineitem scans for 4 lineitem checks). Instead,
    # every check is compiled to SCALARS over one-row-per-table
    # aggregate relations, all crossJoined (1-row x 1-row) into a
    # single wide row, and the report rows are emitted by ONE inline()
    # over it — so each table is scanned exactly once for ALL its
    # scalar checks (unique + row flags + count(*)/count(DISTINCT
    # key) sides), plus one slim fk-column-only broadcast-anti scan
    # per referential check (measured faster than fusing the probe
    # into the wide aggregate — see the referential note below).
    scalars: list[DataFrame] = []  # one-row relations to crossJoin
    out_rows: list[tuple[str, str, str]] = []  # (name, viol, total) SQL
    base: dict[str, list[str]] = {}  # t -> first unique's columns
    extra_aggs: dict[str, list[str]] = {}  # t -> extra per_key aggs

    def has_total(t: str) -> bool:
        return t in base or t in per_table_flags

    def _total(t: str) -> str:
        return f"__{t}_total"

    # cross_sum sides: decide rebasing BEFORE building the per-table
    # aggregates so count(DISTINCT key-col) rides the base scan
    cross_sides: list[list[str]] = []  # SQL scalar names per (a, b)
    raw_id = iter(range(10**6))
    for e in crosses:
        side_names = []
        for t, expr in ((e["table"], e["expr"]),
                        (e["other_table"], e["other_expr"])):
            uniq0 = unique_specs.get(t, [[]])[0]
            m = _re.match(
                r"(?is)^\s*count\(\s*distinct\s+(\w+)\s*\)\s*$", expr
            )
            if m and m.group(1) in uniq0:
                col = m.group(1)
                nm = f"__{t}_cd_{col}"
                extra_aggs.setdefault(t, []).append(
                    f"CAST(count(DISTINCT {col}) AS BIGINT) AS {nm}"
                )
                side_names.append(nm)
            elif _re.match(r"(?s)^\s*count\(\s*\*\s*\)\s*$", expr) and (
                t in unique_specs or t in per_table_flags
            ):
                side_names.append(_total(t))
            else:
                nm = f"__raw_{next(raw_id)}"
                scalars.append(
                    tables[t].agg(
                        F.expr(f"CAST(({expr}) AS BIGINT) AS {nm}")
                    )
                )
                side_names.append(nm)
        cross_sides.append(side_names)

    # Referential checks stay STANDALONE broadcast-anti probes — NOT
    # fused into the fact's wide aggregate — on round-11 measurement:
    # fusing (fact LEFT JOIN broadcast deduped ref keys, violation
    # flag riding the per-key partial sums) removes the probe's
    # second fact scan but measured SLOWER at sf0.1 (lineitem side
    # 1.00-1.27 s fused vs 0.83 s anti+separate) — every fact row
    # pays a hash probe inside the hot aggregation pipeline, plus the
    # broadcast-side dedup stage — and the anti's extra scan reads
    # ONLY the fk column (pruned+pushed). It is also the safer 100 TB
    # shape: when the ref table outgrows broadcast and AQE falls back
    # to a shuffle join, the anti form shuffles just the slim fk
    # column, where a fused join would drag the whole wide-aggregate
    # input through the fk exchange before its per-key aggregation.

    # one aggregate relation per table: the FIRST unique check absorbs
    # the table's row-expression checks (per-key partial flag sums)
    # and the rebased cross_sum distincts into its per-key level
    for t in {*per_table_flags, *unique_specs}:
        flags = per_table_flags.get(t, [])
        uniqs = unique_specs.get(t, [])
        if uniqs:
            base[t] = uniqs[0]
            per_key = _unique_per_key(tables[t], uniqs[0], flags)
            wide = per_key.agg(
                F.expr(f"CAST(sum(_c) AS BIGINT) AS {_total(t)}"),
                F.expr(f"count(*) AS __{t}_distinct"),
                *[
                    F.expr(f"sum(_v_{i}) AS __{t}_v_{i}")
                    for i in range(len(flags))
                ],
                *[F.expr(a) for a in dict.fromkeys(extra_aggs.get(t, []))],
            )
            scalars.append(wide)
            out_rows.append((
                f"unique:{t}." + "+".join(uniqs[0]),
                f"{_total(t)} - __{t}_distinct",
                _total(t),
            ))
            for j, cols in enumerate(uniqs[1:], 1):
                extra = _unique_per_key(tables[t], cols, []).agg(
                    F.expr(f"CAST(sum(_c) AS BIGINT) AS __{t}_u{j}_total"),
                    F.expr(f"count(*) AS __{t}_u{j}_distinct"),
                )
                scalars.append(extra)
                out_rows.append((
                    f"unique:{t}." + "+".join(cols),
                    f"__{t}_u{j}_total - __{t}_u{j}_distinct",
                    f"__{t}_u{j}_total",
                ))
        elif flags:
            scalars.append(
                tables[t].agg(
                    F.expr(f"CAST(count(*) AS BIGINT) AS {_total(t)}"),
                    *[
                        F.expr(
                            f"sum(CAST(({flag}) AS BIGINT)) AS __{t}_v_{i}"
                        )
                        for i, (_, flag) in enumerate(flags)
                    ],
                )
            )
        for i, (flag_nm, _) in enumerate(flags):
            out_rows.append((flag_nm, f"__{t}_v_{i}", _total(t)))

    for j, e in enumerate(refs):
        t, fk = e["table"], e["column"]
        d, k = e["ref_table"], e["ref_column"]
        nm = f"referential:{t}.{fk}->{d}.{k}"
        if fk == k:
            raise ValueError(
                f"referential check {nm}: fk and ref column share the"
                " name; alias one side so the join condition is"
                " unambiguous"
            )
        scalars.append(
            tables[t].where(f"{fk} IS NOT NULL")
            .join(F.broadcast(tables[d]), F.expr(f"{fk} = {k}"), "left_anti")
            .agg(F.expr(f"CAST(count(*) AS BIGINT) AS __ref_{j}"))
        )
        if not has_total(t):
            scalars.append(
                tables[t].agg(
                    F.expr(f"CAST(count(*) AS BIGINT) AS {_total(t)}")
                )
            )
            per_table_flags.setdefault(t, [])  # has_total now true
        out_rows.append((nm, f"__ref_{j}", _total(t)))

    for e, (sa, sb) in zip(crosses, cross_sides):
        out_rows.append(
            (f"cross_sum:{e['name']}", f"abs({sa} - {sb})", sa)
        )

    if not scalars or not out_rows:
        raise ValueError("expectation spec compiled to no checks")
    one = reduce(lambda x, y: x.crossJoin(y), scalars)
    out = one.selectExpr(_inline_checks(out_rows))
    return out.selectExpr(
        "check_name",
        "CAST(violations AS BIGINT) AS violations",
        "CAST(total_rows AS BIGINT) AS total_rows",
        "violations = 0 AS passed",
    )


def _collect_row_flags(spec: list[dict], per_table_flags: dict) -> None:
    """The row-expression half of expectation_report's compiler:
    appends (label, flag SQL) per not_null / accepted_range /
    accepted_values check to its table's list."""

    def lit_sql(v) -> str:
        return _sq(v) if isinstance(v, str) else repr(v)

    for e in spec:
        kind = e["check"]
        if kind == "not_null":
            t, c = e["table"], e["column"]
            per_table_flags.setdefault(t, []).append(
                (f"not_null:{t}.{c}", f"{c} IS NULL")
            )
        elif kind == "accepted_range":
            t, c = e["table"], e["column"]
            conds = []
            if e.get("lo") is not None:
                conds.append(f"{c} < {lit_sql(e['lo'])}")
            if e.get("hi") is not None:
                conds.append(f"{c} > {lit_sql(e['hi'])}")
            cond = " OR ".join(conds) if conds else "FALSE"
            per_table_flags.setdefault(t, []).append(
                (f"accepted_range:{t}.{c}", f"{c} IS NOT NULL AND ({cond})")
            )
        elif kind == "accepted_values":
            t, c = e["table"], e["column"]
            vals = ", ".join(lit_sql(v) for v in e["values"])
            per_table_flags.setdefault(t, []).append(
                (
                    f"accepted_values:{t}.{c}",
                    f"{c} IS NOT NULL AND {c} NOT IN ({vals})",
                )
            )


def pivot_report(
    df: DataFrame,
    rows: list[str],
    pivot_col: str,
    pivot_values: list,
    aggs: dict[str, str],
) -> DataFrame:
    """BI pivot: one wide row per ``rows`` key with one aggregate
    column per (pivot value x agg) — the cross-tab every BI frontend
    asks a warehouse for (the reference's DBeaver dashboards pivot
    the pre-agg exactly this way; the complement of q_rollup's
    grouping-set grain ladder). ``aggs`` maps value column ->
    aggregate name (sum/count/avg/min/max); output columns are
    ``{pivot_value}_{agg}_{col}``.

    ``pivot_values`` is REQUIRED, not discovered: explicit values
    keep the schema data-independent and bound the column set (every
    pivot value is a physical column — a high-cardinality pivot
    belongs in q_rollup's tall form instead).

    Deliberately NOT DataFrame.pivot: Spark's pivotfirst plans TWO
    exchanges (pre-aggregate on (rows, pivot_col), then re-group on
    rows). Conditional aggregation — agg(sum(when(p = v, x))) per
    value — is the same relation in ONE pass: one map-side partial
    aggregate keyed on ``rows``, one exchange, exactly the cost of
    the tall aggregate (plan-locked in tests). This is also
    literally the DuckDB CASE-WHEN oracle shape, so the cross-engine
    twin test pins values expression-for-expression.

    Round-10 registration candidate (value-checked in
    tests/test_properties.py)."""
    if not pivot_values:
        raise ValueError("pivot_values must be explicit and bounded")
    agg_exprs = []
    for col, how in aggs.items():
        if how not in ("sum", "count", "avg", "min", "max"):
            raise ValueError(f"unsupported agg: {how}")
        for v in pivot_values:
            gated = F.when(F.col(pivot_col) == F.lit(v), F.col(col))
            agg_exprs.append(
                getattr(F, how)(gated).alias(f"{v}_{how}_{col}")
            )
    return df.groupBy(*rows).agg(*agg_exprs)


def benford_profile(df: DataFrame, col: str, int_scale: int) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-numbers / data-entry-anomaly screen for
    financial and clinical measurement columns (Newcomb 1881,
    Benford 1938, Nigrini's audit practice; all public). Natural
    multi-scale positive data follows P(d) = log10(1 + 1/d);
    hand-entered, capped, or synthesized columns don't.

    Returns 9 rows: (digit, n, observed_p, expected_p, abs_dev) for
    digits 1-9 over the column's non-null non-zero values (sign
    ignored). The release rule follows Nigrini's MAD bands: mean
    abs_dev < 0.006 close conformity, > 0.015 nonconformity — left
    to the caller because the right band depends on n.

    Digit derivation (round-11 ADVICE): the column is a fixed-point
    quantity with a known decimal scale (prices: ``int_scale=2``),
    and the digit comes from the EXACT decimal string of the integer
    ``floor(|x| * 10^scale + 0.5)`` — one IEEE multiply/add/floor
    (bit-identical in any IEEE engine) followed by integer-to-string,
    which is exact. This avoids BOTH known cross-engine divergence
    channels — libm log10 is not correctly rounded at exact powers
    of 10 (JVM vs DuckDB can flip the digit bucket), and
    double-to-string rendering differs too (JDK-4511638: Java 17
    prints 1e23 as 9.999999999999999E22 where shortest-roundtrip
    prints 1.0E23). Values that round to 0 at the given scale are
    excluded with the zeros (sub-resolution noise, not a leading
    digit).

    Scale shape: digit extraction is one per-row JVM expression;
    then ONE groupBy over a 9-value key space — map-side partials
    reduce each partition to <= 9 rows before the exchange. No UDF,
    no second scan (the total comes from a window over the 9-row
    relation, not another pass)."""
    v = F.abs(F.col(col).cast("double"))
    units = F.floor(v * F.pow(F.lit(10.0), F.lit(int_scale)) + F.lit(0.5))
    keep = F.col(col).isNotNull() & (units > 0)
    digit = F.substring(units.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(keep)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy()
    with_p = counts.withColumn(
        "observed_p", F.col("n") / F.sum("n").over(total)
    ).withColumn(
        "expected_p", F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    )
    return with_p.select(
        "digit",
        "n",
        "observed_p",
        "expected_p",
        F.abs(F.col("observed_p") - F.col("expected_p")).alias("abs_dev"),
    )


def outlier_report(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Robust outlier flags via the modified z-score
    (Iglewicz & Hoaglin 1993): 0.6745 * (x - median) / MAD, flagged
    beyond 3.5 (their recommended threshold). Mean/std outlier
    rules break exactly when needed most — the outliers inflate the
    std that is supposed to catch them; median/MAD have a 50%
    breakdown point.

    Returns the input plus (modified_z double, is_outlier boolean);
    rows in groups with MAD = 0 (over half the group identical) get
    NULL z and are flagged only if x != median — the documented
    degenerate case, not an error.

    Scale shape (grouped): the median and MAD ride ONE window
    exchange partitioned by the group columns — the second window
    reuses the first's partitioning, there is no join back, and
    NULL-valued group keys form their own group exactly as groupBy
    would (an equality join back would silently drop them).
    Per-group state is that group's values on one executor (the
    grouped_percentiles trade). Keyless: the two scalars come from
    global aggregates broadcast-joined back, so the full rows never
    move (a global window would drag every column to one partition;
    for bounded-state exact global percentiles see
    percentiles.exact_percentiles_distributed). No UDF anywhere."""
    keys = list(group_cols or [])
    z = F.when(
        F.col("__mad") > 0,
        F.lit(0.6745) * (F.col(value_col) - F.col("__med")) / F.col("__mad"),
    )
    flag = F.when(
        F.col("__mad") > 0, F.abs(F.col("modified_z")) > 3.5
    ).otherwise(F.col(value_col) != F.col("__med"))

    if not keys:
        base = df.withColumn("__g", F.lit(1))
        med = base.groupBy("__g").agg(
            F.expr(f"percentile({value_col}, 0.5)").alias("__med")
        )
        with_med = base.join(F.broadcast(med), "__g")
        mad = (
            with_med.withColumn(
                "__absdev", F.abs(F.col(value_col) - F.col("__med"))
            )
            .groupBy("__g")
            .agg(F.expr("percentile(__absdev, 0.5)").alias("__mad"))
        )
        return (
            with_med.join(F.broadcast(mad), "__g")
            .withColumn("modified_z", z)
            .withColumn("is_outlier", flag)
            .drop("__med", "__mad", "__g")
        )

    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        df.withColumn(
            "__med", F.expr(f"percentile({value_col}, 0.5)").over(w)
        )
        .withColumn(
            "__mad",
            F.expr(
                f"percentile(abs({value_col} - __med), 0.5)"
            ).over(w),
        )
        .withColumn("modified_z", z)
        .withColumn("is_outlier", flag)
        .drop("__med", "__mad")
    )


def freshness_report(
    df: DataFrame,
    ts_col: str,
    as_of,
    source_col: str,
    recent_hours: int = 24,
) -> DataFrame:
    """Data-freshness audit for an event-time table: per source, the
    newest and oldest event, the lag from
    ``as_of`` to the newest event in hours, and the row count inside
    the trailing ``recent_hours`` window — the first thing an
    on-call checks when a dashboard flatlines (is the pipeline
    stale, or is the world quiet?).

    ``as_of`` is an EXPLICIT timestamp (string or datetime), never
    now(): deterministic reports, replayable tests, and no
    wall-clock skew between driver and data (the repo's
    reproducibility rule).

    ONE fused aggregation — min/max/conditional-count share the
    single scan; no window, no second pass."""
    if recent_hours <= 0:
        raise ValueError("recent_hours must be positive")
    ref = F.lit(as_of).cast("timestamp")
    lag_h = (
        (F.unix_timestamp(ref) - F.unix_timestamp(F.max(F.col(ts_col))))
        / 3600.0
    )
    recent = F.sum(
        (
            F.col(ts_col)
            >= ref - F.make_dt_interval(hours=F.lit(int(recent_hours)))
        ).cast("long")
    )
    out = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(ts_col).alias("oldest"),
        F.max(ts_col).alias("newest"),
        lag_h.alias("lag_hours"),
        recent.alias(f"rows_last_{recent_hours}h"),
    )
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    fingerprint_col: str = "fp",
) -> DataFrame:
    """Row-level diff between two snapshots of the same table — the
    reconciliation primitive an incremental pipeline runs before
    publishing a refreshed corpus/dimension (which rows appeared,
    which vanished, which changed in place) and the row-grain
    companion of the scalar A3/A4 reconciliation probes. Both inputs
    must already carry ``key_cols`` plus a ``fingerprint_col`` — a
    caller-built canonical digest of the compared payload (the
    caller owns canonicalization because only it knows the types:
    quantize doubles, epoch-second timestamps, NULL sentinels — the
    cross-engine conventions; see q_snapshot_diff for the model).

    Returns (key_cols..., change, fp_old, fp_new) with change in
    ('added', 'removed', 'changed'); unchanged rows are filtered
    before the result ever materializes.

    Scale shape: each side reduces map-side to a slim
    (keys, fingerprint) projection — the payload itself never enters
    the exchange — then ONE null-safe full-outer join on the keys
    classifies every row. A full outer cannot broadcast (both sides
    must survive), so the exchange is the two slim projections —
    ~key + 32 hex chars per row, the minimum a row-level diff can
    ship. Snapshots bucketed by the key join with zero exchange.

    PRECONDITION: ``key_cols`` is a unique key on EACH side — a
    snapshot diff is only defined per key, and nothing here checks
    it. Duplicate keys fan out in the full-outer join, silently
    multiplying added/removed/changed rows (and the join skews on
    the duplicated key). The caller owns key hygiene: the registered
    caller diffs the orders table on its primary key, with added
    rows re-keyed past the key range, so its keys are unique by
    construction."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    # explicit presence markers: a NULL key or NULL fingerprint on a
    # PRESENT side must not read as side-absent (NULL keys are real
    # groups here, the repo's null-safe-join convention)
    # string aliases, not DataFrame-attribute columns: old and new
    # commonly derive from the SAME scan (snapshot vs mutated
    # snapshot), and attribute references across a self-join are
    # ambiguous to the analyzer
    o = old.select(
        *key_cols,
        F.col(fingerprint_col).alias("fp_old"),
        F.lit(1).alias("__in_old"),
    ).alias("__sd_old")
    n = new.select(
        *key_cols,
        F.col(fingerprint_col).alias("fp_new"),
        F.lit(1).alias("__in_new"),
    ).alias("__sd_new")
    cond = None
    for k in key_cols:
        c = F.col(f"__sd_old.{k}").eqNullSafe(F.col(f"__sd_new.{k}"))
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")
    # coalesce each key across sides (either may be side-absent NULL)
    keys = [
        F.coalesce(F.col(f"__sd_old.{k}"), F.col(f"__sd_new.{k}")).alias(k)
        for k in key_cols
    ]
    change = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(~F.col("fp_old").eqNullSafe(F.col("fp_new")), "changed")
    )
    return (
        joined.select(*keys, change.alias("change"), "fp_old", "fp_new")
        .where(F.col("change").isNotNull())
    )
