"""Physical-plan audit for registered queries: the facts a human
checks by eye before shipping a plan to a 1000-executor cluster —
exchange count and keys, join strategies, top-k form, pushdown,
codegen span count, Python-RDD scans. Prints one summary row per
query plus the formatted plan when --full is given; with no names it
audits every query auditable_queries() resolves.

Usage: python scripts/plan_audit.py [sf_dir] [q_name ...] [--full]
Record plans: python scripts/plan_audit.py --full > plans/<tag>.txt
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clinical_data_warehouse_bi_spark.registry import auditable_queries
from clinical_data_warehouse_bi_spark.session import get_spark


def python_scans(df) -> int:
    """Optimized-plan leaves whose RDD lineage holds a PythonRDD: a
    frame built by createDataFrame(<python list>), which every plan
    scanning it re-runs in Python workers. A localCheckpoint prints as
    the same `Scan ExistingRDD`, so only the lineage tells them apart."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        "PythonRDD" in leaf.rdd().toDebugString()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    )


def audit(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    hash_keys = sorted(
        {m for m in re.findall(r"Exchange hashpartitioning\(([^#,)]+)", plan)}
    )
    return {
        "shuffles": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobinPartitioning")
        + plan.count("Exchange SinglePartition"),
        "roundrobin": plan.count("Exchange RoundRobinPartitioning"),
        "exchange_keys": hash_keys,
        "broadcasts": plan.count("BroadcastExchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "nested_loop": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_scans": python_scans(df),
        "formatted": formatted,
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--full"]
    full = "--full" in sys.argv
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    queries = auditable_queries()
    names = [a for a in args if a.startswith("q_")] or sorted(queries)
    spark = get_spark("plan-audit")
    for name in names:
        a = audit(queries[name](spark, sf_dir))
        print(
            f"{name:22s} shuffles={a['shuffles']} (rr={a['roundrobin']})"
            f" keys={a['exchange_keys']} bcast={a['broadcasts']}"
            f" bhj={a['broadcast_joins']} smj={a['sortmerge_joins']}"
            f" nlj={a['nested_loop']} takeOrdered={a['take_ordered']}"
            f" pushdown={a['pushed_filters']} codegen={a['codegen_spans']}"
            f" python_scans={a['python_scans']}"
        )
        if full:
            print(a["formatted"])
    spark.stop()


if __name__ == "__main__":
    main()
