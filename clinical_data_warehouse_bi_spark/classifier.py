"""Distributed quality classifier: logistic regression trained with
full-batch gradient descent, one Spark job per iteration.

The fastText-/CCNet-style learned quality filter is a standard stage
in LLM training-data pipelines (score every document, keep the
high-probability tail). The heuristics in q_quality_score give the
FEATURES; this module learns the WEIGHTS from a labeled sample and
scores the full corpus JVM-side.

Scale contract:

* ``train_logreg`` — per iteration, every Arrow batch reduces to ONE
  partial row (count, gradient vector, log-loss sum); the driver sums
  O(batches) partials of size O(d) and updates the weight vector. The
  feature table never shuffles, weights travel by closure broadcast.
  An iteration is one job; 30 iterations on 100 TB is 30 scans of a
  (cached) slim feature projection — the optimizer state (w) is d
  doubles on the driver.
* ``predict_proba`` — pure JVM expression: the dot product unrolls to
  fixed arithmetic over array elements (d is small for quality
  features), so scoring stays inside whole-stage codegen; no Python
  in the hot path.

Determinism: full-batch GD with a fixed iteration count and a fixed
init is exactly reproducible (no sampling, no data-order dependence
beyond float summation of per-batch partials, which the tests bound).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def train_logreg(
    df: DataFrame,
    *,
    features_col: str = "features",
    label_col: str = "label",
    n_iter: int = 30,
    lr: float = 1.0,
    l2: float = 0.0,
) -> np.ndarray:
    """Full-batch logistic regression; returns the (d,) weight vector.

    One aggregation job per iteration: executors emit per-batch
    partial (n, grad, loss) rows, the driver sums them and takes a
    mean-gradient step. Labels must be 0/1.

    The slim (features, label) relation is persisted for the life of
    the loop and unpersisted on exit: full-batch GD reads it once per
    iteration, so without the cache n_iter iterations are n_iter full
    scans of the feature table — 30 passes over 100 TB. With it, one
    scan materializes the slim columns and every later iteration is a
    cache read (released-storage contract asserted in tests)."""
    slim = df.select(
        F.col(features_col).alias("x"), F.col(label_col).cast("double").alias("y")
    ).persist()
    try:
        d = len(slim.select("x").first()["x"])
        w = np.zeros(d, dtype=np.float64)
        for _ in range(n_iter):
            w_now = w.copy()

            def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if pdf.empty:
                        continue
                    x = np.array(pdf["x"].tolist(), dtype=np.float64)  # N x d
                    y = pdf["y"].to_numpy(dtype=np.float64)
                    z = x @ w_now
                    p = 1.0 / (1.0 + np.exp(-z))
                    grad = x.T @ (p - y)
                    eps = 1e-12
                    loss = -np.sum(
                        y * np.log(p + eps) + (1.0 - y) * np.log(1.0 - p + eps)
                    )
                    yield pd.DataFrame(
                        {"n": [len(y)], "g": [grad.tolist()], "l": [float(loss)]}
                    )

            parts = slim.mapInPandas(op, "n long, g array<double>, l double").collect()
            n = sum(r.n for r in parts)
            g = np.sum([np.asarray(r.g) for r in parts], axis=0)
            w = w - lr * (g / n + l2 * w)
        return w
    finally:
        slim.unpersist()


def train_logreg_reference(
    x: np.ndarray, y: np.ndarray, *, n_iter: int = 30, lr: float = 1.0, l2: float = 0.0
) -> np.ndarray:
    """Driver-side numpy twin of train_logreg (same init, same step
    rule) — the equivalence oracle for the distributed trainer."""
    w = np.zeros(x.shape[1], dtype=np.float64)
    for _ in range(n_iter):
        p = 1.0 / (1.0 + np.exp(-(x @ w)))
        g = x.T @ (p - y)
        w = w - lr * (g / len(y) + l2 * w)
    return w


def _dot_expr(features_col: str, w: np.ndarray) -> Column:
    """Unrolled fixed-arity dot product — stays in codegen, no HOF
    lambda interpretation per row for small d."""
    terms = " + ".join(
        f"{features_col}[{i}] * ({float(w[i])!r})" for i in range(len(w))
    )
    return F.expr(terms)


def predict_proba(
    df: DataFrame, w: np.ndarray, *, features_col: str = "features"
) -> DataFrame:
    """Adds `proba` (sigmoid of the linear score) JVM-side."""
    z = _dot_expr(features_col, w)
    return df.withColumn("proba", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def train_test_split(
    df: DataFrame, test_frac: float, id_col: str = "doc_id", seed: str = "cv0"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, test) split by a portable md5-derived
    uniform on (seed, id) — layout-independent and reproducible
    across sessions/clusters, the property randomSplit does not give
    (it re-rolls per partition layout). Same hash family as
    text.weighted_sample / q_stratified_sample."""
    if not (0.0 < test_frac < 1.0):
        raise ValueError("test_frac must be in (0, 1)")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    test = df.where(u < F.lit(test_frac))
    train = df.where(u >= F.lit(test_frac))
    return train, test


def threshold_for_keep_rate(
    scored: DataFrame, keep_rate: float, proba_col: str = "proba"
) -> float:
    """The probability cutoff that keeps ~``keep_rate`` of the corpus
    (one approxQuantile pass) — how a production quality filter is
    actually tuned: pick the budget, derive the threshold from the
    scored distribution (the CCNet recipe), not the other way
    round."""
    if not (0.0 < keep_rate < 1.0):
        raise ValueError("keep_rate must be in (0, 1)")
    return scored.approxQuantile(proba_col, [1.0 - keep_rate], 0.001)[0]


def calibration_table(
    scored: DataFrame,
    proba_col: str = "proba",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram data for a trained quality filter: assign
    every prediction to one of ``n_bins`` equal-width probability
    bins and report, per bin, the count, the mean predicted
    probability, the empirical positive rate, and the bin's additive
    Brier contribution — the table that says WHETHER the scores the
    corpus filter thresholds on mean what they claim (an
    over-confident classifier passes AUC checks and still mis-sizes
    every keep-rate budget).

    Scale shape: one groupBy on the bin id — n_bins keys, map-side
    partial aggregation, one tiny exchange; sums, never per-row
    state. Returns (bin, lo, hi, n, mean_pred, frac_pos,
    brier_sum) ordered by bin; global Brier = sum(brier_sum) /
    sum(n), a driver-side fold over n_bins rows."""
    if n_bins < 1:
        raise ValueError("n_bins must be positive")
    p = F.col(proba_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.floor(p * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    return (
        scored.select(b.alias("bin"), p.alias("__p"), y.alias("__y"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.avg("__p").alias("mean_pred"),
            F.avg("__y").alias("frac_pos"),
            F.sum((F.col("__p") - F.col("__y")) * (F.col("__p") - F.col("__y"))).alias(
                "brier_sum"
            ),
        )
        .select(
            "bin",
            (F.col("bin").cast("double") / n_bins).alias("lo"),
            ((F.col("bin") + 1).cast("double") / n_bins).alias("hi"),
            "n",
            "mean_pred",
            "frac_pos",
            "brier_sum",
        )
        .orderBy("bin")
    )


def group_split(
    df: DataFrame,
    group_col: str,
    test_frac: float,
    seed: str = "cv0",
) -> tuple[DataFrame, DataFrame]:
    """Leakage-safe (train, test) split at the GROUP grain: every
    row of a group lands on the same side, decided by the portable
    md5 uniform on (seed, group) — the clinical-ML splitting rule
    (all of a patient's admissions/events together; a row-level
    split leaks the patient's own history across the boundary and
    inflates every metric), and equally the dedup-aware corpus rule
    (near-duplicate docs sharing a cluster id must not straddle the
    split).

    Same hash family as train_test_split, so splits are
    layout-independent and reproducible across sessions — and
    train_test_split IS this function with group_col = the row id.
    Per-row expression on the group column: no shuffle, no join, no
    group materialization."""
    if not (0.0 < test_frac < 1.0):
        raise ValueError("test_frac must be in (0, 1)")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed), F.lit(":"), F.col(group_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    test = df.where(u < F.lit(test_frac))
    train = df.where(u >= F.lit(test_frac))
    return train, test
