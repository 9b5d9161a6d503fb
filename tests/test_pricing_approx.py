"""q_pricing_approx accuracy + plan contract (round-13 verdict item
5): the registered rows-only entry's evidence is value-level —
sketched distinct counts pinned against the exact form within the
HLL's own 3-sigma band, every exact column byte-identical to
q_pricing_summary's hash-green output, and the plan shape that IS the
operator's reason to exist (one aggregation, no Expand, no join)."""

from __future__ import annotations

from clinical_data_warehouse_bi_spark.queries.core import (
    PRICING_APPROX_RSD,
    q_pricing_approx,
    q_pricing_summary,
)


def _by_group(rows):
    return {(r["l_returnflag"], r["l_linestatus"]): r for r in rows}


def test_pricing_approx_matches_exact_within_3_sigma(spark, sf_dir):
    exact = _by_group(q_pricing_summary(spark, sf_dir).collect())
    approx = _by_group(q_pricing_approx(spark, sf_dir).collect())
    assert set(exact) == set(approx) and exact
    for key, e in exact.items():
        a = approx[key]
        # the sums leg is the SAME exact decimal aggregation: every
        # non-sketched column must be identical, not just close
        for col in (
            "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
            "count_order",
        ):
            assert a[col] == e[col], (key, col, a[col], e[col])
        # HLL++ at rsd: |approx - exact| <= 3 * rsd * exact (the
        # q_approx_stats retirement pattern — a pinned accuracy band,
        # stronger than a row-count check)
        tol = 3 * PRICING_APPROX_RSD * e["n_orders"]
        assert abs(a["n_orders_approx"] - e["n_orders"]) <= tol, (
            key, a["n_orders_approx"], e["n_orders"], tol,
        )


def test_pricing_approx_plan_is_one_aggregation(spark, sf_dir):
    """The operator's scale claim, plan-locked: no Expand (the
    countDistinct planning artifact), no join (the exact form's
    two-leg merge), exactly one exchange — partial HLL sketches and
    decimal sums merge map-side in a single aggregation."""
    plan = (
        q_pricing_approx(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan
