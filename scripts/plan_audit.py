"""Physical-plan audit for registered queries: the facts a human
checks by eye before shipping a plan to a 1000-executor cluster —
exchange count and keys, join strategies, top-k form, pushdown,
codegen span count, Python-RDD scans, tokenizer / digest calls a
lambda re-runs. Prints one summary row per
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


#: higher-order functions as a logical plan prints them
_HOF_CALL = re.compile(
    r"\b(?:transform|filter|aggregate|exists|forall|zip_with|array_sort"
    r"|map_filter|map_zip_with|transform_keys|transform_values)\("
)
#: the per-document costs a lambda must not re-run: the tokenizer's
#: regex and the digest
_COSTLY_CALL = re.compile(r"\b(?:regexp_extract_all|regexp_replace|md5)\(")
#: a column reference, under any casts: `text#12`, `cast(x#3L as binary)`
_PLAIN_ATTR = re.compile(r"(?:cast\()*[\w.`]+#\d+L?(?: as [\w<>,: ]+\))*")


def _close_paren(s: str, i: int) -> int:
    """Index of the parenthesis closing the one opened at ``s[i]``."""
    depth = 0
    for j in range(i, len(s)):
        depth += {"(": 1, ")": -1}.get(s[j], 0)
        if depth == 0:
            return j
    return len(s)


def _first_arg(s: str, i: int) -> str:
    """The first argument of the call whose parenthesis opens at ``s[i]``."""
    depth = 0
    for j in range(i + 1, len(s)):
        if s[j] == "," and depth == 0:
            return s[i + 1 : j].strip()
        depth += {"(": 1, ")": -1}.get(s[j], 0)
        if depth < 0:
            return s[i + 1 : j].strip()
    return s[i + 1 :].strip()


def lambda_recomputes(df) -> int:
    """Tokenizer / digest calls inside a higher-order function whose
    input is neither a lambda variable nor a plain column: loop-invariant
    work the lambda re-runs per element (or per function, when it sits
    in the array argument of one of several per-term filters). Spark
    does not eliminate common subexpressions inside a lambda, so such
    an input must be bound to a column first. Reads the optimized plan
    with every field printed: that is what runs, and a rule that
    inlined a bound column back into a lambda would show only there."""
    plan = df._jdf.queryExecution().optimizedPlan().treeString(
        False, False, 2**31 - 1, False, False
    )
    spans = [
        (m.end() - 1, _close_paren(plan, m.end() - 1))
        for m in _HOF_CALL.finditer(plan)
    ]
    n = 0
    for m in _COSTLY_CALL.finditer(plan):
        if not any(a < m.start() < b for a, b in spans):
            continue
        arg = _first_arg(plan, m.end() - 1)
        if "lambda " not in arg and not _PLAIN_ATTR.fullmatch(arg):
            n += 1
    return n


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
        "lambda_recomputes": lambda_recomputes(df),
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
            f" lambda_recomputes={a['lambda_recomputes']}"
        )
        if full:
            print(a["formatted"])
    spark.stop()


if __name__ == "__main__":
    main()
