"""Full DuckDB-oracle comparisons for REGISTRY-RETIRED queries.

The driver's correctness gate checks at most 50 registered entries;
when a query is retired to free a slot, the convention is that a
registered witness carries its operator shapes. This file keeps the
retired queries' own value-level cross-engine checks alive in pytest,
so retirement never weakens the evidence — the same normalize/compare
protocol as tests/test_oracle_parity.py, run on every
``registry.ROTATION_POOL`` retiree against the oracle SQL it preserved
at module level, both resolved through ``registry.auditable_*``. For
the gate scale, point SPARK_GRAFT_TEST_SF_DIR at the sf0.01 testdata."""

from __future__ import annotations

import pytest

from clinical_data_warehouse_bi_spark.registry import (
    ROTATION_POOL,
    auditable_oracles,
    auditable_queries,
    benched_queries,
)
from scripts.check_parity import normalize

# --- rotation donors (round-13) --------------------------------------
# Registered entries sitting the current round out of the driver's
# 50-slot gate (registry.rotation_donors_out) keep the IDENTICAL
# cross-engine comparison here, so donating a slot never weakens the
# evidence. The donor set is deterministic per driver round; this
# parametrization follows it automatically.
_BENCHED = benched_queries()


@pytest.mark.parametrize("name", sorted(_BENCHED))
def test_benched_donor_matches_oracle(name, spark, duck, sf_dir):
    fn, oracle = _BENCHED[name]
    s_cols, s_rows = normalize(fn(spark, sf_dir).toPandas())
    d_cols, d_rows = normalize(duck.execute(oracle).df())
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ][:3]
    assert not mismatches, f"first mismatches: {mismatches}"


@pytest.mark.parametrize("name", sorted(s.name for s in ROTATION_POOL))
def test_retired_query_matches_oracle(name, spark, duck, sf_dir):
    fn, oracle = auditable_queries()[name], auditable_oracles()[name]
    s_cols, s_rows = normalize(fn(spark, sf_dir).toPandas())
    d_cols, d_rows = normalize(duck.execute(oracle).df())
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ][:3]
    assert not mismatches, f"first mismatches: {mismatches}"


def test_approx_stats_within_sketch_error(spark, duck, sf_dir):
    """q_approx_stats retired rows-only in round 9; this pins every
    sketch column against its exact value within the sketches'
    published error bounds — strictly stronger than the rows-only
    check its registry slot bought. HLL++'s default rsd is a 5%
    STANDARD DEVIATION (observed 5.5% on this data), so the bound
    here is 3 sigma; approx_percentile at accuracy 10000 is
    rank-exact at test scale, so the value tolerance only absorbs
    the tie-pick difference between the two engines'
    discrete-quantile conventions."""
    from clinical_data_warehouse_bi_spark.queries.core import q_approx_stats

    got = {r["l_returnflag"]: r for r in q_approx_stats(spark, sf_dir).collect()}
    want = {
        r[0]: r
        for r in duck.execute("""
            SELECT l_returnflag, count(*),
                   count(DISTINCT l_orderkey), count(DISTINCT l_partkey),
                   quantile_disc(l_quantity, 0.5),
                   quantile_disc(l_quantity, 0.95),
                   quantile_disc(l_extendedprice, 0.5)
            FROM lineitem GROUP BY l_returnflag
        """).fetchall()
    }
    assert set(got) == set(want)
    for flag, g in got.items():
        w = want[flag]
        assert g["total_events"] == w[1]
        assert abs(g["approx_distinct_orders"] - w[2]) <= max(0.15 * w[2], 2)
        assert abs(g["approx_distinct_concepts"] - w[3]) <= max(0.15 * w[3], 2)
        assert abs(g["median_qty"] - w[4]) <= 2
        assert abs(g["p95_qty"] - w[5]) <= 2
        assert abs(g["median_price"] - w[6]) <= 0.02 * w[6]


