"""Locks the registry to the driver's correctness-gate contract:
round 2 proved the driver records at most the first 50 registry
entries, so (a) the registry must not outgrow 50 without a
deliberate retirement, and (b) any query NOT yet triaged into
_CHECK_ORDER must be emitted first so new work is always checked."""

from __future__ import annotations

from clinical_data_warehouse_bi_spark.registry import (
    _CHECK_ORDER,
    _REGISTRY,
    _load,
    ROTATION_DONORS,
    ROTATION_POOL,
    ROTATION_SLOTS,
    ROWS_ONLY_RETIREES,
    all_oracles,
    all_queries,
    auditable_oracles,
    auditable_queries,
    benched_queries,
    rotation_batch,
    rotation_donors_out,
    rotation_round,
)

DRIVER_CORRECTNESS_CAP = 50

#: the entries the round-2 gate silently skipped (VERDICT r2 finding
#: #1) — still registered, they must lead so they can never fall off
#: again. Round 5 retired q_doc_fingerprint and q_dedup_exact from
#: the registry entirely (witness: q_corpus_clean), so only the five
#: surviving ones are pinned here.
ROUND2_SKIPPED = [
    # q_window_tumbling was the third member until its round-8
    # retirement (full oracle in test_retired_parity.py);
    # q_frame_sample followed in round 9 (witness:
    # q_multimodal_features + the sampling family; full oracle in
    # test_retired_parity.py); and q_stream_dedup_dual in round 12
    # (witness: q_corpus_clean; full oracle in
    # test_retired_parity.py)
    "q_multimodal_features",
    "q_sessionize",
]


def test_registry_fits_driver_cap():
    assert len(all_queries()) <= DRIVER_CORRECTNESS_CAP


def test_check_order_has_no_dangling_names():
    _load()
    registered = set(_REGISTRY)
    dangling = [n for n in _CHECK_ORDER if n not in registered]
    assert not dangling, f"_CHECK_ORDER names unregistered queries: {dangling}"


def _rotated_names():
    return [s.name for s in rotation_batch()]


def test_new_queries_would_lead():
    """Unlisted (future) queries are emitted before listed ones
    (this round's rotated-in batch counts as unlisted: it is new to
    the gate)."""
    names = list(all_queries())
    unlisted = set(_rotated_names()) | {
        n for n in names if n not in _CHECK_ORDER
    }
    listed_positions = [
        i for i, n in enumerate(names) if n not in unlisted
    ]
    unlisted_positions = [i for i, n in enumerate(names) if n in unlisted]
    if unlisted_positions and listed_positions:
        assert max(unlisted_positions) < min(listed_positions)


def test_round2_skipped_entries_lead():
    """The round-2-skipped pins still sit within the checked head:
    directly after the untriaged-new + rotated-in block."""
    names = list(all_queries())
    n_lead = sum(
        1
        for n in names
        if n not in _CHECK_ORDER or n in set(_rotated_names())
    )
    head = names[n_lead : n_lead + len(ROUND2_SKIPPED)]
    assert head == ROUND2_SKIPPED


# --- rotation contract (round-12 verdict item 1) ---------------------


def test_rotation_batch_under_gate_and_donors_out():
    names = set(all_queries())
    rotated = _rotated_names()
    donors = rotation_donors_out()
    assert len(rotated) == ROTATION_SLOTS
    # donors absorb registry growth past the cap (rotation in == 5,
    # out == 5 + overflow)
    _load()
    assert len(donors) == ROTATION_SLOTS + max(
        0, len(_REGISTRY) - DRIVER_CORRECTNESS_CAP
    )
    assert set(rotated) <= names
    assert not (set(donors) & names)


def test_rotation_donors_keep_full_oracle_coverage():
    """Every donated-out entry stays cross-engine checked in pytest:
    benched_queries() must expose exactly the donors, each with its
    oracle SQL (test_retired_parity runs the comparison)."""
    benched = benched_queries()
    assert set(benched) == set(rotation_donors_out())
    for fn, sql in benched.values():
        assert callable(fn) and isinstance(sql, str) and sql.strip()


def test_rotation_is_deterministic_and_advances(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_ROUND", "13")
    b13 = [s.name for s in rotation_batch()]
    d13 = rotation_donors_out()
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_ROUND", "14")
    b14 = [s.name for s in rotation_batch()]
    d14 = rotation_donors_out()
    assert b13 != b14 and d13 != d14
    # full pool cycles: every pool entry appears within ceil(P/S) rounds
    seen = set()
    rounds = -(-len(ROTATION_POOL) // ROTATION_SLOTS)
    for r in range(13, 13 + rounds):
        monkeypatch.setenv("SPARK_GRAFT_ROTATION_ROUND", str(r))
        seen.update(s.name for s in rotation_batch())
    assert seen == {s.name for s in ROTATION_POOL}


def test_rotation_round_tracks_driver_artifacts(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ROTATION_ROUND", raising=False)
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    n = len(list(root.glob("CORRECTNESS_r*.json")))
    expected = n + 1 if n else 13
    assert rotation_round() == expected


def test_rotation_pool_is_disjoint_from_registry_and_donors_stable():
    _load()
    pool_names = {s.name for s in ROTATION_POOL}
    assert not (pool_names & set(_REGISTRY))
    assert set(ROTATION_DONORS) <= set(_REGISTRY)
    # donors must be full-oracle entries: a rows-only entry's gate
    # row is its only driver-side evidence
    for n in ROTATION_DONORS:
        assert _REGISTRY[n].oracle is not None
    # the emitted gate stays exactly at the cap through rotation
    assert len(all_queries()) == DRIVER_CORRECTNESS_CAP


def test_oracles_subset_of_queries():
    assert set(all_oracles()) <= set(all_queries())


# --- the one resolver (bench.py, scripts/ and tests address every
# operator by name through it) ----------------------------------------


def test_every_bench_query_resolves():
    """bench.py records -1 for a name it cannot resolve; fail here
    instead."""
    from bench import BENCH_QUERIES

    queries = auditable_queries()
    missing = [n for n in BENCH_QUERIES if n not in queries]
    assert not missing, f"BENCH_QUERIES names the resolver lacks: {missing}"
    assert all(callable(queries[n]) for n in BENCH_QUERIES)


def test_every_pool_retiree_has_a_callable_and_an_oracle():
    queries, oracles = auditable_queries(), auditable_oracles()
    for spec in ROTATION_POOL:
        assert callable(queries[spec.name]), spec.name
        assert isinstance(oracles.get(spec.name), str), spec.name
        assert oracles[spec.name].strip(), spec.name


def test_rows_only_retirees_resolve_without_an_oracle():
    queries, oracles = auditable_queries(), auditable_oracles()
    assert set(ROWS_ONLY_RETIREES) == {
        "q_approx_stats", "q_ann_ivf_learned", "q_ann_hnsw_routed"
    }
    for name in ROWS_ONLY_RETIREES:
        assert callable(queries[name]) and queries[name].__name__ == name
        assert name not in oracles
