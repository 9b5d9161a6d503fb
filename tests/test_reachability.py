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
the contract never runs. The same holds for a passed option whose
value picks a branch: when every production call binds a defaulted
parameter that steers an ``if``/``while``/conditional of its def to
one value (an omitted argument binds the default) and a test binds
another, the branch only the test's value selects fails too, unless
TEST_SEAMS lists it with its reason. No Spark work.
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


#: defaulted library parameter -> reason: options that only tests
#: pass, or branch options every production call binds to one value
#: while a test binds another. Each is a reference path a test
#: compares the contract path against, a volume-gate or geometry seam
#: a named test forces to reach the other side of a gate at fixture
#: scale, or an operator parameter a named test varies. It only
#: shrinks: any other such option selects a path the contract never
#: runs.
TEST_SEAMS = {
    # reference paths
    "corpus.py::build_corpus_release(materialize)":
        "test_corpus_pipeline::test_release_barriers_equal_unmaterialized "
        "checks the checkpoint barriers against the plain plan",
    # volume gates and geometry
    "hnsw.py::build_graph(upper_every)":
        "test_hnsw: a denser upper layer on fixture-sized shards",
    "joins.py::range_join_binned(bin_width)":
        "test_plans: an explicit bin width against the self-tuned one",
    "lm.py::perplexity(model_broadcast_max_rows)":
        "test_plans: 0 forces the shuffled-model side of the broadcast gate",
    "percentiles.py::exact_percentiles_distributed(native_distinct_max)":
        "test_percentiles_distributed: 0 forces the bucketed refinement",
    "percentiles.py::exact_percentiles_distributed(refine_cap)":
        "test_percentiles_distributed: a tiny cap forces the rank "
        "through the refinement levels",
    "similarity.py::train_pq_codebooks(ksub)":
        "test_similarity_engine: codebooks small enough for fixture rows",
    "similarity.py::train_pq_codebooks(sample_cap)":
        "test_similarity_engine: a training sample that fits the fixture",
    "text.py::epoch_shuffle(n_ranges)":
        "test_properties::test_epoch_shuffle_properties checks layout "
        "independence across range counts",
    "text.py::tfidf_keywords(vocab_broadcast_max_rows)":
        "test_plans: 0 forces the shuffled-vocabulary side of the gate",
    "scrub.py::repetition_metrics(ngram)":
        "test_scrub::test_repetition_metrics_property_vs_python uses "
        "bigrams on short generated texts",
    "session.py::get_spark(shuffle_partitions)":
        "conftest: 8 shuffle partitions for fixture-sized data",
    # operator parameters a test varies
    "graph.py::connected_components(stats)":
        "test_properties: the fallback tests read the round count and "
        "fallback flag it fills",
    "text.py::weighted_sample(seed)":
        "test_properties::test_weighted_sample_favors_heavy_weights "
        "draws 15 independent samples",
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


def _daemon_module_file() -> str:
    """The file of the module ``session.py`` configures as
    ``spark.python.daemon.module``."""
    tree = ast.parse(open(os.path.join(LIB, "session.py")).read())
    (module,) = [
        n.args[1].value for n in ast.walk(tree)
        if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "config"
        and len(n.args) == 2
        and all(isinstance(a, ast.Constant) for a in n.args)
        and n.args[0].value == "spark.python.daemon.module"
    ]
    return os.path.join(REPO_ROOT, *module.split(".")) + ".py"


def _root_files() -> list[str]:
    return [
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
        os.path.join(REPO_ROOT, "bench.py"),
        _daemon_module_file(),
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


def _branch_params(d: ast.FunctionDef) -> set[str]:
    """Parameters of ``d`` named in the test of an ``if`` (unless its
    body only raises), conditional expression, ``while`` or
    comprehension ``if`` anywhere in its body."""
    params = {a.arg for a in d.args.posonlyargs + d.args.args + d.args.kwonlyargs}
    named: set[str] = set()
    for n in ast.walk(d):
        if isinstance(n, ast.If):
            if all(isinstance(b, ast.Raise) for b in n.body):
                continue
            tests = [n.test]
        elif isinstance(n, (ast.IfExp, ast.While)):
            tests = [n.test]
        elif isinstance(n, ast.comprehension):
            tests = n.ifs
        else:
            continue
        for t in tests:
            named |= {x.id for x in ast.walk(t) if isinstance(x, ast.Name)}
    return named & params


def _bound_value(node: ast.expr) -> str:
    """A bound argument as a comparable token: a literal's repr, an
    UPPERCASE constant's name, anything else ``varies``."""
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        pass
    name = getattr(node, "id", None) or getattr(node, "attr", None)
    return name if name and name.isupper() else "varies"


def _calls_by_name(files: list[str]) -> dict[str, list[ast.Call]]:
    out: dict[str, list[ast.Call]] = defaultdict(list)
    for path in files:
        for n in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(n, ast.Call):
                name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                if name:
                    out[name].append(n)
    return out


def _bound_values(d: ast.FunctionDef, calls: list[ast.Call]) -> dict[str, set]:
    """Per defaulted parameter of ``d``: the values ``calls`` bind
    (an omitted argument binds the default; one hidden behind
    ``*args``/``**kwargs`` varies)."""
    args = [a.arg for a in d.args.posonlyargs + d.args.args]
    defaults = dict(zip(args[len(args) - len(d.args.defaults):], d.args.defaults))
    defaults.update(
        (a.arg, v) for a, v in zip(d.args.kwonlyargs, d.args.kw_defaults)
        if v is not None
    )
    out: dict[str, set] = defaultdict(set)
    for c in calls:
        kw = {k.arg: k.value for k in c.keywords if k.arg}
        splat = any(isinstance(a, ast.Starred) for a in c.args) or any(
            k.arg is None for k in c.keywords
        )
        for p, default in defaults.items():
            if p in kw:
                node = kw[p]
            elif p in args and args.index(p) < len(c.args):
                node = c.args[args.index(p)]
            else:
                node = None if splat else default
            out[p].add("varies" if node is None else _bound_value(node))
    return out


def branch_values_only_tests_bind(callers: list[str], tests: list[str]) -> list[str]:
    """Defaulted parameters of top-level library defs that steer a
    branch of the def, that every call in ``callers`` or the library
    binds to ONE value, and that some call in ``tests`` binds to
    another: the branch that value selects runs only under tests.
    Calls match by callee name alone, like the reachability pass."""
    prod = _calls_by_name(callers + _py_files(LIB))
    test = _calls_by_name(tests)
    out = []
    for path in _py_files(LIB):
        rel = os.path.relpath(path, LIB)
        for d in ast.parse(open(path).read(), path).body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            branch = _branch_params(d)
            if not branch or d.name not in prod:
                continue
            pv = _bound_values(d, prod[d.name])
            tv = _bound_values(d, test.get(d.name, []))
            out += [
                f"{rel}::{d.name}({p})" for p in sorted(branch & set(pv))
                if len(pv[p]) == 1 and "varies" not in pv[p] and tv[p] - pv[p]
            ]
    return sorted(out)


def test_library_options_have_a_production_caller():
    test_only = set(unset_options(_root_files()))
    new = sorted(test_only - set(TEST_SEAMS))
    assert not new, (
        f"{len(new)} defaulted parameters that only tests pass (delete "
        "the path the option selects, with its tests, or pass it from "
        "the contract):\n  " + "\n  ".join(new)
    )


def test_library_branches_run_a_production_value():
    flagged = branch_values_only_tests_bind(
        _root_files(), _py_files(os.path.join(REPO_ROOT, "tests"))
    )
    new = sorted(set(flagged) - set(TEST_SEAMS))
    assert not new, (
        f"{len(new)} branch options that every production call binds to "
        "one value and a test binds to another (delete the branch only "
        "the test's value selects, and the option with it):\n  "
        + "\n  ".join(new)
    )


def test_test_seams_are_live_and_reasoned():
    live = set(unset_options(_root_files())) | set(
        branch_values_only_tests_bind(
            _root_files(), _py_files(os.path.join(REPO_ROOT, "tests"))
        )
    )
    stale = sorted(set(TEST_SEAMS) - live)
    assert not stale, (
        "TEST_SEAMS entries that are deleted or now run with the test's "
        "value outside tests/; take them off the list:\n  "
        + "\n  ".join(stale)
    )
    assert all(reason.strip() for reason in TEST_SEAMS.values())


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
