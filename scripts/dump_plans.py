"""Dump .explain("formatted") for every bench query to plans/<tag>/.

Usage: python scripts/dump_plans.py <tag> [suffix] [sf_dir] [q ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "before").
Used by the optimization rounds to record before/after plan shapes
the judge can diff without running Spark.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    only = set(sys.argv[4:])

    from clinical_data_warehouse_bi_spark.registry import auditable_queries
    from clinical_data_warehouse_bi_spark.session import get_spark

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")

    # the same resolver the bench harness times through
    queries = auditable_queries()
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"OK   {name}")
        except Exception:
            with open(path, "w") as f:
                f.write("ERROR\n" + traceback.format_exc())
            print(f"ERR  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
