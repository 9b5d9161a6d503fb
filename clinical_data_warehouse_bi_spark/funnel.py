"""Ordered-sequence funnel analysis over an event stream.

The BI-layer question the reference's pre-aggregation table exists to
serve (DWH.sql:203-210 aggregates events per admission; a funnel is
the ordered version: who progressed view -> click -> purchase, and
how far). Earliest-completion semantics: step 1 completes at the
user's first step-1 event; step i+1 completes at the first step-(i+1)
event STRICTLY after step i's completion. Greedy-on-sorted-events is
provably equivalent to the sequential-min definition (the first
qualifying event in time order IS the minimum qualifying timestamp),
which is what the DuckDB oracle in tests/test_properties.py computes
via correlated mins.

Scale shape: filter to the step types (predicate pushdown at the
scan), ONE shuffle on the user key, per-user sort + linear fold —
no self-joins, no window cascade, no per-step pass over the data.
State is O(steps) per user; the fold is a single JVM higher-order
``aggregate`` expression built as one parsed SQL string (SURVEY §9
item 7/12 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user funnel completion: (user, step_1_ts .. step_k_ts,
    steps_completed). A NULL step_i_ts means the funnel stalled
    before step i; only users with at least one event of some step
    type appear (a LEFT join from the user dimension restores the
    zero-step population when needed)."""
    if not steps:
        raise ValueError("steps must be non-empty")
    k = len(steps)
    # step names are data, not SQL — escape them into the literal
    # (a name like "add'l info" must not break the fold expression)
    def _lit(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    steps_sql = "array(" + ", ".join(_lit(s) for s in steps) + ")"
    ev = events.filter(F.col(type_col).isin(list(steps))).select(
        F.col(user_col).alias("__u"),
        F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("et")).alias("e"),
    )
    arr = ev.groupBy("__u").agg(F.sort_array(F.collect_list("e")).alias("a"))
    # state: struct(stage INT, ts ARRAY<TIMESTAMP>); an event advances
    # the state iff it is the next step's type and lands strictly
    # after the previous step's completion
    fold = (
        "aggregate(a,"
        " named_struct('stage', 0, 'hit', cast(array() as array<timestamp>)),"
        " (st, x) -> IF("
        f"   st.stage < {k}"
        f"   AND x.et = element_at({steps_sql}, st.stage + 1)"
        "   AND (st.stage = 0 OR x.ts > element_at(st.hit, st.stage)),"
        "   named_struct('stage', st.stage + 1,"
        "                'hit', concat(st.hit, array(x.ts))),"
        "   st))"
    )
    out = arr.select(F.col("__u").alias(user_col), F.expr(fold).alias("f"))
    cols = [F.col(user_col), F.col("f.stage").alias("steps_completed")]
    cols += [
        F.expr(f"IF(f.stage >= {i + 1}, element_at(f.hit, {i + 1}),"
               f" cast(null as timestamp))").alias(f"step_{i + 1}_ts")
        for i in range(k)
    ]
    return out.select(*cols)


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily cohort retention matrix — the other canonical
    ordered-behavior BI query next to the funnel (the reference's
    per-admission pre-agg generalized across time): users are
    cohorted by the DAY of their FIRST event; each later day they
    appear in increments that cohort's retention at that offset.
    Returns (cohort date, month_offset int — the offset in DAYS; the
    column keeps the name the retired oracle SQL pins — n_active
    bigint). Day granularity serves short-span product analytics
    (and small fixtures) where a month matrix collapses to one cell.

    Scale shape: one user-key shuffle computes each user's cohort
    (partial min pushes map-side); the events join back to the
    per-user cohort on the SAME user key (co-partitioned — AQE
    reuses the exchange); the (cohort, offset, user) distinct +
    count is a single-DISTINCT aggregation, never an Expand. The
    matrix itself is tiny (cohorts x offsets)."""
    cohorts = events.groupBy(user_col).agg(
        F.date_trunc("day", F.min(ts_col)).alias("__cohort")
    )
    active = (
        events.select(user_col, F.date_trunc("day", ts_col).alias("__m"))
        .join(cohorts, user_col)
        .select(
            user_col,
            "__cohort",
            F.datediff("__m", "__cohort").cast("int").alias("month_offset"),
        )
        .distinct()
    )
    return (
        active.groupBy("__cohort", "month_offset")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .select(
            F.to_date("__cohort").alias("cohort"),
            "month_offset",
            "n_active",
        )
    )
