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
function uses it as its reference implementation. A module-level
import that its library module never names fails too: a cut must
take the imports it orphans. A defaulted parameter that no call in
the repo passes fails too: an option nobody sets is a fixed value,
so write the value in. So does one that only tests pass, unless
TEST_SEAMS lists it: an option only a test selects is a code path
the contract never runs. No Spark work.
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
    ("registry.py", "benched_queries"):
        "test_registry, test_retired_parity: this round's donors for "
        "their pytest oracle check",
    ("similarity.py", "axis_matrix"):
        "test_properties: the axis-aligned recall baseline that "
        "rademacher_matrix sign-LSH must beat",
}


#: defaulted library parameters that only tests pass: reference
#: paths a test compares the contract path against, volume-gate and
#: geometry seams a test forces to reach the other side of a gate at
#: fixture scale, and the corpus release's policy knobs. It only
#: shrinks: an option no production call passes selects a path the
#: contract never runs.
TEST_SEAMS = (
    # reference paths
    "corpus.py::build_corpus_release(materialize)",
    "star.py::build_dwh(parity_keys)",
    "star.py::build_staging(parity_keys)",
    # volume gates and geometry
    "hnsw.py::build_graph(upper_every)",
    "hnsw.py::build_routed_hnsw_index(sub_shards)",
    "joins.py::range_join_binned(bin_width)",
    "lm.py::perplexity(model_broadcast_max_rows)",
    "multimodal.py::phash_near_dup_pairs(max_hamming)",
    "multimodal.py::phash_near_dup_pairs(n_bands)",
    "percentiles.py::exact_percentiles_distributed(native_distinct_max)",
    "percentiles.py::exact_percentiles_distributed(refine_cap)",
    "similarity.py::train_pq_codebooks(ksub)",
    "similarity.py::train_pq_codebooks(sample_cap)",
    "text.py::epoch_shuffle(n_ranges)",
    "text.py::tfidf_keywords(vocab_broadcast_max_rows)",
    # corpus release policy
    "corpus.py::build_corpus_release(budget_frac)",
    "corpus.py::build_corpus_release(chunk_tokens)",
    "corpus.py::build_corpus_release(min_quality)",
    "corpus.py::build_corpus_release(min_tokens)",
    "corpus.py::build_corpus_release(overlap_tokens)",
    "corpus.py::build_corpus_release(substring_min_tokens)",
    # operator parameters a test varies
    "graph.py::connected_components(stats)",
    "scrub.py::dp_release(value_high)",
    "scrub.py::dp_release(value_low)",
    "scrub.py::repetition_metrics(ngram)",
    "session.py::get_spark(shuffle_partitions)",
    "text.py::weighted_sample(seed)",
)

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


def _root_files() -> list[str]:
    return [
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
        os.path.join(REPO_ROOT, "bench.py"),
        *_py_files(os.path.join(REPO_ROOT, "perfbench")),
        *_py_files(os.path.join(REPO_ROOT, "scripts")),
    ]


def unreached_defs() -> list[str]:
    roots = _root_files()
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
    dead = unreached_defs()
    assert not dead, (
        f"{len(dead)} top-level library defs are unreachable from the "
        "entry-point roots (delete them with their tests, or list a "
        "test reference in TEST_REFERENCES):\n  " + "\n  ".join(dead)
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


def unset_options(callers: list[str]) -> list[str]:
    """Defaulted parameters of top-level library defs that no call in
    ``callers`` or the library passes, by keyword or by position.
    Calls match by callee name alone, like the reachability pass.
    Skipped: ``*_col``/``*_cols`` parameters (column-name plumbing),
    defs never called by name, and defs some call reaches through
    ``*args``/``**kwargs``."""
    defs = []
    passed: dict[str, set] = defaultdict(set)  # keywords and arg counts
    splatted: set[str] = set()
    for path in callers + _py_files(LIB):
        tree = ast.parse(open(path).read(), path)
        if path.startswith(LIB + os.sep):
            rel = os.path.relpath(path, LIB)
            defs += [
                (rel, s) for s in tree.body
                if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            if isinstance(n.func, ast.Name):
                name = n.func.id
            elif isinstance(n.func, ast.Attribute):
                name = n.func.attr
            else:
                continue
            if any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            ):
                splatted.add(name)
            passed[name] |= {k.arg for k in n.keywords} | {len(n.args)}
    out = []
    for rel, d in defs:
        if d.name not in passed or d.name in splatted:
            continue
        n_pos = max(i for i in passed[d.name] if isinstance(i, int))
        args = d.args.posonlyargs + d.args.args
        # defaulted positional params past the longest positional call
        unset = args[max(n_pos, len(args) - len(d.args.defaults)):]
        unset += [
            a for a, v in zip(d.args.kwonlyargs, d.args.kw_defaults)
            if v is not None
        ]
        out += [
            f"{rel}::{d.name}({a.arg})" for a in unset
            if a.arg not in passed[d.name]
            and not a.arg.endswith(("_col", "_cols"))
        ]
    return sorted(out)


def test_library_options_are_set():
    unset = unset_options(
        _root_files() + _py_files(os.path.join(REPO_ROOT, "tests"))
    )
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call passes (remove "
        "the option and write its value in):\n  " + "\n  ".join(unset)
    )


def test_library_options_have_a_production_caller():
    test_only = set(unset_options(_root_files()))
    new = sorted(test_only - set(TEST_SEAMS))
    assert not new, (
        f"{len(new)} defaulted parameters that only tests pass (delete "
        "the path the option selects, with its tests, or pass it from "
        "the contract):\n  " + "\n  ".join(new)
    )
    stale = sorted(set(TEST_SEAMS) - test_only)
    assert not stale, (
        "TEST_SEAMS entries that are deleted or now passed outside "
        "tests/; take them off the list:\n  " + "\n  ".join(stale)
    )


def create_dataframe_calls() -> list[str]:
    """``.createDataFrame(`` calls in library modules, outside
    ``io.local_frame``."""
    out = []
    for path in _py_files(LIB):
        rel = os.path.relpath(path, LIB)
        tree = ast.parse(open(path).read(), path)
        allowed = set()
        if rel == "io.py":
            for s in tree.body:
                if isinstance(s, ast.FunctionDef) and s.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(s)}
        out += [
            f"{rel}:{n.lineno}" for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame" and id(n) not in allowed
        ]
    return sorted(out)


def test_library_builds_frames_with_local_frame():
    calls = create_dataframe_calls()
    assert not calls, (
        f"{len(calls)} createDataFrame calls outside io.local_frame (a "
        "Python-list frame is a Python RDD that every plan scanning it "
        "re-runs in Python workers; use io.local_frame):\n  "
        + "\n  ".join(calls)
    )
