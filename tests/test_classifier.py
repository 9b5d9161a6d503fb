"""Distributed logistic-regression quality classifier: equivalence
with the driver-side numpy trainer, planted-signal recovery,
determinism, JVM-side scoring, leakage-safe splits, calibration and
keep-rate thresholds."""

from __future__ import annotations

import pytest

import numpy as np
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import classifier
from test_plans import physical_plan


def _planted(spark, n=400, d=4, seed=7):
    """Separable synthetic set: label = 1 iff w_true . x > 0."""
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, d))
    x[:, 0] = 1.0  # bias
    w_true = np.array([0.3, 2.0, -1.5, 0.7])[:d]
    y = (x @ w_true > 0).astype(np.float64)
    rows = [(i, x[i].tolist(), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "features", "label"]).repartition(8)
    return df, x, y


@pytest.mark.slow
def test_distributed_matches_numpy_reference(spark):
    df, x, y = _planted(spark)
    w_dist = classifier.train_logreg(df, n_iter=15, lr=0.5)
    w_ref = classifier.train_logreg_reference(x, y, n_iter=15, lr=0.5)
    # identical step rule; only per-batch float summation order differs
    assert np.allclose(w_dist, w_ref, atol=1e-8), (w_dist, w_ref)


@pytest.mark.slow
def test_training_is_deterministic(spark):
    df, _, _ = _planted(spark)
    w1 = classifier.train_logreg(df, n_iter=10, lr=0.5)
    w2 = classifier.train_logreg(df, n_iter=10, lr=0.5)
    assert np.array_equal(w1, w2)


@pytest.mark.slow
def test_recovers_planted_signal(spark):
    df, x, y = _planted(spark)
    w = classifier.train_logreg(df, n_iter=60, lr=1.0)
    scored = classifier.predict_proba(df, w)
    acc = (
        scored.select(
            ((F.col("proba") >= 0.5).cast("double") == F.col("label"))
            .cast("double")
            .alias("hit")
        )
        .agg(F.avg("hit"))
        .first()[0]
    )
    assert acc >= 0.95, acc


@pytest.mark.slow
def test_l2_shrinks_weights(spark):
    df, _, _ = _planted(spark)
    w_free = classifier.train_logreg(df, n_iter=30, lr=1.0, l2=0.0)
    w_reg = classifier.train_logreg(df, n_iter=30, lr=1.0, l2=0.5)
    assert np.linalg.norm(w_reg) < np.linalg.norm(w_free)


def test_predict_proba_is_jvm_side(spark):
    df, x, y = _planted(spark)
    w = np.ones(4)
    plan = physical_plan(classifier.predict_proba(df, w))
    # unrolled arithmetic: no python UDF eval, no Arrow exchange
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # matches numpy sigmoid exactly (same IEEE ops)
    got = {
        r["doc_id"]: r["proba"]
        for r in classifier.predict_proba(df, w).collect()
    }
    want = 1.0 / (1.0 + np.exp(-(x @ w)))
    for i in range(len(x)):
        assert abs(got[i] - want[i]) < 1e-12


def test_split_is_deterministic_and_disjoint(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    tr1, te1 = classifier.train_test_split(docs, 0.25)
    tr2, te2 = classifier.train_test_split(docs, 0.25)
    a1 = {r["doc_id"] for r in te1.collect()}
    a2 = {r["doc_id"] for r in te2.collect()}
    assert a1 == a2
    t1 = {r["doc_id"] for r in tr1.collect()}
    assert not (a1 & t1)
    n = docs.count()
    assert len(a1) + len(t1) == n
    assert 0.15 < len(a1) / n < 0.35  # near the requested fraction
    # a different seed draws a different test set
    _, te3 = classifier.train_test_split(docs, 0.25, seed="cv1")
    assert {r["doc_id"] for r in te3.collect()} != a1


def test_threshold_for_keep_rate(spark):
    rows = [(float(i) / 100.0,) for i in range(100)]
    df = spark.createDataFrame(rows, "proba double")
    t = classifier.threshold_for_keep_rate(df, 0.2)
    kept = df.where(F.col("proba") >= t).count()
    assert 15 <= kept <= 25


def test_train_logreg_persists_then_releases(spark):
    """The trainer caches the slim feature relation for the life of
    the gradient loop (one scan + n_iter-1 cache reads instead of
    n_iter full scans — the round-8 verdict's named fix) and MUST
    release it on exit, success or raise: leaked executor storage
    across a long session is the measured q_ann_ivf_learned
    regression mechanism."""
    from clinical_data_warehouse_bi_spark.io import snapshot_persistent_rdds

    df, _, _ = _planted(spark)
    baseline = snapshot_persistent_rdds(spark)
    classifier.train_logreg(df, n_iter=5, lr=0.5)
    assert snapshot_persistent_rdds(spark) == baseline
    # the release holds on the raise path too (bad label column type
    # surfaces on the first action, inside the persisted scope)
    import pytest as _pytest

    bad = df.withColumn("features", F.lit(None).cast("string"))
    with _pytest.raises(Exception):
        classifier.train_logreg(bad, n_iter=2)
    assert snapshot_persistent_rdds(spark) == baseline


def test_calibration_table_matches_numpy(spark):
    """calibration_table: bin counts, means, empirical rates, and
    Brier contributions all equal the numpy computation; edge
    p = 1.0 lands in the last bin."""
    rng = np.random.default_rng(5)
    p = np.round(rng.uniform(0, 1, 500), 6)
    p[:3] = [0.0, 1.0, 0.999999]
    y = (rng.uniform(0, 1, 500) < p).astype(float)  # calibrated-ish
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(p, y)], ["proba", "label"]
    )
    got = classifier.calibration_table(df, n_bins=10).collect()
    bins = np.minimum((p * 10).astype(int), 9)
    assert sum(r["n"] for r in got) == 500
    for r in got:
        m = bins == r["bin"]
        assert r["n"] == int(m.sum())
        assert abs(r["mean_pred"] - p[m].mean()) < 1e-9
        assert abs(r["frac_pos"] - y[m].mean()) < 1e-9
        assert abs(r["brier_sum"] - ((p[m] - y[m]) ** 2).sum()) < 1e-9
        assert abs(r["lo"] - r["bin"] / 10) < 1e-12
    total_brier = sum(r["brier_sum"] for r in got) / 500
    assert abs(total_brier - ((p - y) ** 2).mean()) < 1e-9
    import pytest as _pytest

    with _pytest.raises(ValueError):
        classifier.calibration_table(df, n_bins=0)


def test_group_split_keeps_groups_whole(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.classifier import group_split
    from clinical_data_warehouse_bi_spark.io import read_table

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id")
    train, test = group_split(ev, "user_id", 0.3, seed="s1")
    tr_users = {r["user_id"] for r in train.select("user_id").distinct().collect()}
    te_users = {r["user_id"] for r in test.select("user_id").distinct().collect()}
    assert tr_users and te_users
    assert not (tr_users & te_users)          # no patient straddles
    assert train.count() + test.count() == ev.count()
    # reproducible across invocations; different seed reshuffles
    train2, _ = group_split(ev, "user_id", 0.3, seed="s1")
    assert train2.count() == train.count()
    _, test3 = group_split(ev, "user_id", 0.3, seed="s2")
    te3 = {r["user_id"] for r in test3.select("user_id").distinct().collect()}
    assert te3 != te_users


def test_group_split_frac_and_rejection(spark, sf_dir):
    import pytest

    from clinical_data_warehouse_bi_spark.classifier import group_split
    from clinical_data_warehouse_bi_spark.io import read_table

    ev = read_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    _, test = group_split(ev, "user_id", 0.3)
    te_users = test.select("user_id").distinct().count()
    import math

    assert abs(te_users - 0.3 * n_users) < 4 * math.sqrt(0.21 * n_users) + 3
    with pytest.raises(ValueError):
        group_split(ev, "user_id", 0.0)


def test_frechet_distance_behaves(spark):
    import numpy as np

    from clinical_data_warehouse_bi_spark.similarity import (
        _frechet_from_stats,
        frechet_distance,
    )

    rng = np.random.default_rng(12)
    d = 8
    base = rng.normal(0, 1, (500, d))
    shifted = base + np.array([2.0] + [0.0] * (d - 1))

    def mk(mat):
        return spark.createDataFrame(
            [(row.tolist(),) for row in mat], "embedding array<double>"
        )

    # identical distributions: ~0
    same = frechet_distance(mk(base), mk(base.copy()))
    assert abs(same) < 1e-6
    # pure mean shift of 2 in one dim: distance ~ 4 (|shift|^2)
    moved = frechet_distance(mk(base), mk(shifted))
    assert abs(moved - 4.0) < 0.05
    # numpy-twin exactness of the formula on arbitrary stats
    ca = np.cov(base.T)
    cb = np.cov((base * 1.5).T)
    sa = {"mean": base.mean(0), "cov": ca}
    sb = {"mean": base.mean(0), "cov": cb}
    got = _frechet_from_stats(sa, sb, eps=0.0)
    wa, va = np.linalg.eigh(ca)
    sq = (va * np.sqrt(np.clip(wa, 0, None))) @ va.T
    want = float(
        np.trace(ca) + np.trace(cb)
        - 2 * np.sqrt(np.clip(np.linalg.eigvalsh(sq @ cb @ sq), 0, None)).sum()
    )
    assert abs(got - want) < 1e-9
