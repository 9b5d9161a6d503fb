"""The library carries only what its entry points run.

A name-level AST reachability pass over every top-level def, class
and module constant in ``clinical_data_warehouse_bi_spark``. Roots
are the code that actually runs: ``__spark_entry__.py``,
``bench.py``, ``perfbench/``, ``scripts/``, and in ``queries/`` every
``@register``-decorated query plus all module-level statements.
From there a name is reached when any reached code mentions it as a
bare name, an attribute, or an identifier-shaped string (the registry
resolves retired queries by ``getattr`` on such strings). Matching is
by name alone, so a name collision keeps a def alive; the pass errs
toward keeping code. Imports are not uses: an import nothing calls
does not keep its target alive.

A def reached only from its own tests fails this test. Delete it
with its tests, or add it to TEST_REFERENCES if a test of a surviving
function uses it as its reference implementation. TESTED_ONLY lists
the tested-only defs still waiting for their cut. A module-level
import that its library module never names fails too: a cut must
take the imports it orphans. No Spark work.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = os.path.join(REPO_ROOT, "clinical_data_warehouse_bi_spark")
QUERIES = os.path.join(LIB, "queries")

#: (module file, def) -> reason: defs kept only as the reference a
#: test of a surviving function checks against; each also roots
#: whatever it calls
TEST_REFERENCES = {
    ("classifier.py", "train_logreg_reference"):
        "test_classifier: numpy twin the distributed train_logreg "
        "weights are checked against",
    ("layout.py", "morton_interleave_py"):
        "test_layout: pure-Python cross-check of layout.zorder_key",
    ("layout.py", "zorder_effectiveness"):
        "test_layout, test_star_pipeline: measures the row-group "
        "pruning layout.write_zordered promises",
    ("registry.py", "benched_queries"):
        "test_registry, test_retired_parity: this round's donors for "
        "their pytest oracle check",
    ("streaming.py", "read_event_stream"):
        "test_streaming: file-source reader that drives dedup_events",
    ("streaming.py", "run_to_memory"):
        "test_streaming: memory-sink driver for dedup_events",
    ("similarity.py", "axis_matrix"):
        "test_properties: the axis-aligned recall baseline that "
        "rademacher_matrix sign-LSH must beat",
}


#: module -> defs reached only from their own default-tier tests: a
#: temporary list, cut in batches together with those tests (deleting
#: them all at once would retire ~118 default-tier tests in one
#: change). It only shrinks: no change adds an entry, and an entry
#: that is deleted or becomes reached must leave it.
TESTED_ONLY = {
    "bpe.py": ("train_bpe", "word_histogram"),
    "classifier.py": (
        "_dot_expr", "calibration_table", "group_split", "predict_proba",
        "threshold_for_keep_rate", "train_logreg", "train_test_split",
    ),
    "io.py": (
        "compact_parquet_dir", "global_shuffle", "maintenance_lock",
        "mix_sources", "raw_to_documents", "read_evolved", "read_raw_files",
        "read_source", "temperature_mix", "write_sink", "write_sized",
        "write_training_shards",
    ),
    "joins.py": (
        "PINNED_PACKED_EVICTIONS", "_PINNED_PACKED", "_PINNED_PACKED_LOCK",
        "_PINNED_PACKED_MAX", "_pin_packed", "_salted_left",
        "estimate_salt_buckets", "interval_overlap_join_binned",
        "interval_pick_first_mapside", "salted_join",
        "set_pinned_packed_max", "survivorship",
    ),
    "kpi.py": ("length_of_stay", "los_summary", "mortality_rate"),
    "percentiles.py": ("winsorize",),
    "qa.py": (
        "corpus_card", "correlation_matrix", "drift_report",
        "observe_expectations", "profile_table", "schema_drift",
        "skew_report", "unpivot_report", "zipf_profile",
    ),
    "queries/core.py": ("exact_percentiles_bucketed",),
    "queries/dedup.py": ("q_dedup_exact",),
    "retrieval.py": (
        "bm25_batch_topk", "bm25_index_append", "bm25_index_compact",
        "hybrid_topk_served_graph",
    ),
    "scrub.py": (
        "PII_PATTERNS", "date_shift", "k_anonymity_classes",
        "k_anonymity_summary", "pii_report", "pseudonymize",
        "repetition_filter", "scrub_pii", "suppress_to_k",
    ),
    "similarity.py": (
        "_frechet_from_stats", "covariance_stats", "frechet_distance",
    ),
    "text.py": ("dedup_lines",),
}
TESTED_ONLY_DEFS = {
    f"{module}::{name}" for module, names in TESTED_ONLY.items()
    for name in names
}


def _py_files(root: str) -> list[str]:
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    return sorted(out)


def _uses(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _unit_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def unreached_defs() -> list[str]:
    roots = [
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
        os.path.join(REPO_ROOT, "bench.py"),
        *_py_files(os.path.join(REPO_ROOT, "perfbench")),
        *_py_files(os.path.join(REPO_ROOT, "scripts")),
    ]
    seed: set[str] = set()
    units: list[tuple[str, str, set[str]]] = []  # (file, name, uses)
    by_name: dict[str, list[int]] = defaultdict(list)
    reached: set[int] = set()
    for path in roots + _py_files(LIB):
        tree = ast.parse(open(path).read(), path)
        in_queries = path.startswith(QUERIES + os.sep)
        rel = os.path.relpath(path, LIB)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = [n for n in _unit_names(stmt) if not n.startswith("__")]
            registered = in_queries and bool(getattr(stmt, "decorator_list", None))
            if path in roots or not names or registered:
                seed |= _uses(stmt)
                continue
            for name in names:
                by_name[name].append(len(units))
                if (rel, name) in TEST_REFERENCES:
                    reached.add(len(units))
                    seed |= _uses(stmt)
                units.append((rel, name, _uses(stmt)))
    frontier, seen = list(seed), set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for i in by_name.get(name, ()):
            if i not in reached:
                reached.add(i)
                frontier.extend(units[i][2] - seen)
    return sorted(
        f"{rel}::{name}"
        for i, (rel, name, _) in enumerate(units)
        if i not in reached
    )


def test_every_library_def_is_reached_from_the_contract():
    dead = [d for d in unreached_defs() if d not in TESTED_ONLY_DEFS]
    assert not dead, (
        f"{len(dead)} top-level library defs are unreachable from the "
        "entry-point roots (delete them with their tests, or list a "
        "test reference in TEST_REFERENCES):\n  " + "\n  ".join(dead)
    )


def test_tested_only_entries_are_still_unreached():
    stale = sorted(TESTED_ONLY_DEFS - set(unreached_defs()))
    assert not stale, (
        "TESTED_ONLY entries that are deleted or now reached; take them "
        "off the list:\n  " + "\n  ".join(stale)
    )


def test_test_references_exist():
    for (module, name), reason in TEST_REFERENCES.items():
        tree = ast.parse(open(os.path.join(LIB, module)).read())
        assert any(name in _unit_names(s) for s in tree.body), (module, name)
        assert reason


def test_library_imports_are_used():
    unused = []
    for path in _py_files(LIB):
        if os.path.basename(path) == "__init__.py":
            continue
        tree = ast.parse(open(path).read(), path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for stmt in tree.body:
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for alias in stmt.names:
                    bound = alias.asname or alias.name.split(".")[0]
                    if bound not in used:
                        unused.append(f"{os.path.relpath(path, LIB)}::{bound}")
    assert not unused, (
        "module-level imports never named in their module (drop them "
        "with the code that used them):\n  " + "\n  ".join(unused)
    )
