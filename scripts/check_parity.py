"""Local mirror of the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given sf dir, then compares row count, sorted column names, and an
order-insensitive stringified row multiset (strictly at least as
strict as the driver's value-hash).

Usage: python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from clinical_data_warehouse_bi_spark.io import DRIVER_TABLES
from clinical_data_warehouse_bi_spark.registry import all_oracles, all_queries
from clinical_data_warehouse_bi_spark.session import get_spark


def duck_con(sf_dir: str, tables=DRIVER_TABLES) -> duckdb.DuckDBPyConnection:
    """DuckDB views over ``sf_dir/<table>.parquet``: one parquet file
    (the driver's testdata) or a Spark-written directory of them."""
    con = duckdb.connect()
    for t in tables:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    df = df.reindex(sorted(df.columns), axis=1)
    cells = []
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            s = s.map(lambda v: None if pd.isna(v) else repr(float(v)))
        elif pd.api.types.is_bool_dtype(s):
            s = s.map(lambda v: None if pd.isna(v) else str(bool(v)))
        else:
            s = s.map(lambda v: None if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
        # NaT -> NaN after strftime, etc.: anything non-str is a null
        cells.append([c if isinstance(c, str) else None for c in s.tolist()])
    rows = sorted(
        tuple("<NULL>" if c is None else c for c in row) for row in zip(*cells)
    ) if cells else []
    return list(df.columns), rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries, oracles = all_queries(), all_oracles()
    spark = get_spark("parity-check")
    con = duck_con(sf_dir)
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"PASS {name}: rows-only ({len(spark_df)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            duck_df = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        s_cols, s_rows = normalize(spark_df)
        d_cols, d_rows = normalize(duck_df)
        if s_cols != d_cols:
            print(f"FAIL {name}: columns {s_cols} != {d_cols}")
            failed.append(name)
        elif len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount {len(s_rows)} != {len(d_rows)}")
            failed.append(name)
        elif s_rows != d_rows:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
            )
            print(f"FAIL {name}: values differ at sorted row {diff[0]}:\n"
                  f"  spark={diff[1]}\n  duck ={diff[2]}")
            failed.append(name)
        else:
            print(f"PASS {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failed)} failed of {len([n for n in queries if not only or n in only])}")
    if failed:
        print("failed:", ", ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
