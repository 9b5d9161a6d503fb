"""Time-series operators: per-key resampling onto a fixed grid with
gap filling (resample_fill), trailing-window rolling aggregates
(rolling_aggregate) and first/last-touch attribution (attribution).

The BI question the reference's calendar dimension exists to serve
(Stage_area.sql builds date rows precisely so sparse facts can be
reported on a dense axis): observed events are irregular, reports
want one row per key per bucket, missing buckets forward-filled
from the last observation.

Scale shape of resample_fill: the per-key grid is generated MAP-SIDE
from each key's own (min, max) span via sequence() — no calendar
cross-join of every key against a global axis, which at 100 TB
multiplies keys x global span instead of keys x own span. One key shuffle computes the spans,
the observed aggregates reuse the same key partitioning, and the
forward-fill is one window over (key, bucket) — the exchange is
shared end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_fill(
    obs: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """(key, bucket timestamp, n_obs bigint, value double): one row
    per day bucket from each key's first to last observation.
    ``value`` is the bucket's SUM of ``val_col``; empty buckets have
    n_obs = 0 and carry the last observed bucket value forward. The
    grid is delimited per key (own min..max span), so a short-lived
    key costs its own lifetime, not the corpus's.

    Sums run in decimal(18,6) and convert via string — bit-identical
    under any partitioning and engine (the cross-engine hash-gate
    convention)."""
    bucket = F.date_trunc("day", ts_col)
    per_bucket = (
        obs.select(
            F.col(key_col).alias("__k"),
            bucket.alias("__b"),
            F.col(val_col).cast("decimal(18,6)").alias("__v"),
        )
        .groupBy("__k", "__b")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum("__v").alias("__raw_sum"),
        )
        .select(
            "__k",
            "__b",
            "n_obs",
            F.col("__raw_sum").cast("string").cast("double").alias("__obs_val"),
        )
    )
    spans = per_bucket.groupBy("__k").agg(
        F.min("__b").alias("__lo"), F.max("__b").alias("__hi")
    )
    grid = spans.select(
        "__k",
        F.explode(
            F.expr("sequence(__lo, __hi, interval 1 day)")
        ).alias("__b"),
    )
    dense = grid.join(per_bucket, ["__k", "__b"], "left").select(
        "__k",
        "__b",
        F.coalesce("n_obs", F.lit(0).cast("bigint")).alias("n_obs"),
        "__obs_val",
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        F.col("__k").alias(key_col),
        F.col("__b").alias("bucket"),
        "n_obs",
        F.last("__obs_val", ignorenulls=True).over(w).alias("value"),
    )


def rolling_aggregate(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    window_days: int,
    aggs: tuple[str, ...] = ("avg", "sum", "count"),
) -> DataFrame:
    """Trailing time-window aggregates per row — the 7-day moving
    average / trailing-sum report (the BI companion of resample_fill:
    that densifies the axis, this smooths along it). For each input
    row: the aggregate of ``value_col`` over the SAME KEY's rows in
    (ts - window_days, ts], expressed as a RANGE window frame so the
    engine keeps a sliding frame, not a self-join.

    Scale shape: ONE exchange on the key columns; the RANGE frame is
    evaluated in a single pass over each key's sorted run (Spark's
    WindowExec maintains the sliding frame incrementally — the naive
    interval self-join this replaces is O(rows x window) and was the
    documented reject). Per-key state is the frame's rows, bounded
    by the window span, not the history.

    RANGE frames need a numeric ordering key: ts is cast to epoch
    MICROSECONDS internally — truncating to whole seconds silently
    moves sub-second-boundary events in or out of the frame (caught
    by the sf0.1 cross-engine gate, where two events 7 days apart
    minus half a second straddled the truncated bound). Output keeps
    the original column.

    Emits <agg>_<window_days>d columns, e.g. avg_7d."""
    if window_days <= 0:
        raise ValueError("window_days must be positive")
    allowed = {"avg", "sum", "count", "min", "max"}
    bad = set(aggs) - allowed
    if bad:
        raise ValueError(f"unsupported aggs: {sorted(bad)}")
    span_us = int(window_days) * 86400 * 1_000_000
    w = (
        Window.partitionBy(*[F.col(k) for k in key_cols])
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-(span_us - 1), 0)
    )
    out = df
    for a in aggs:
        col = F.count(F.lit(1)) if a == "count" else getattr(F, a)(
            F.col(value_col)
        )
        out = out.withColumn(f"{a}_{window_days}d", col.over(w))
    return out


def attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    channel_col: str,
    conversion_pred,
    lookback_days: int,
) -> DataFrame:
    """Marketing/journey attribution: credit each CONVERSION event
    to a touch channel under both models at once — ``last_touch``
    (the nearest touch before the conversion) and ``first_touch``
    (the earliest one) — the BI report behind every acquisition
    dashboard.

    ``conversion_pred`` is a Column predicate marking conversion
    rows; every other row is a touch. ``lookback_days`` is a window
    filter: only touches within that many days BEFORE the conversion
    are eligible, so ``first_touch`` credits the EARLIEST touch
    inside the window (not the journey opener, which may be stale)
    and ``last_touch`` the nearest one inside it.

    Returns two rows per conversion, one per model: (model, user,
    conversion ts, credited channel, touch ts) — NULL channel when
    no touch qualifies.

    Declared tiebreak (round 11): same-instant touches are credited
    by CHANNEL order — last_touch takes the lexicographically
    GREATEST channel at the winning instant, first_touch the LEAST.
    Both models pick via min/max over a (epoch, channel, ts) struct,
    so the result is a total order — deterministic in any engine —
    and channel+ts always come from the SAME touch row. Touches with
    a NULL channel are not creditable (they carry no attribution
    target).

    Scale shape: ONE user-keyed exchange. min and max share one
    RANGE-frame WindowSpec over epoch microseconds, so Catalyst plans
    one Window operator over one exchange, and stack() unpivots the
    two picks per conversion. Never a per-conversion self-join
    against the touch history (that join is O(conversions x touches)
    on power users — the skew trap)."""
    base = events.withColumn("__conv", conversion_pred)
    # epoch MICROSECONDS, not seconds: second-truncation silently
    # reorders same-second touch/conversion pairs and shifts the
    # lookback horizon by up to a second (the rolling_aggregate
    # sf0.1 lesson applied here)
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # RANGE frame: eligible touches are those within the horizon
    # before each row's own timestamp. The frame includes same-ts
    # rows (conversions carry NULL touch columns, so only genuine
    # same-instant touches contribute).
    w = (
        Window.partitionBy(user_col)
        .orderBy(epoch)
        .rangeBetween(-int(lookback_days) * 86400 * 1_000_000, 0)
    )
    touch = F.when(
        ~F.col("__conv") & F.col(channel_col).isNotNull(),
        F.struct(
            epoch.alias("e"),
            F.col(channel_col).alias("c"),
            F.col(ts_col).alias("t"),
        ),
    )
    conv = (
        base.withColumn("__pl", F.max(touch).over(w))
        .withColumn("__pf", F.min(touch).over(w))
        .filter(F.col("__conv"))
    )
    return conv.select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("conversion_ts"),
        F.expr(
            "stack(2,"
            " 'last_touch',  __pl.c, __pl.t,"
            " 'first_touch', __pf.c, __pf.t"
            ") AS (model, credited_channel, touch_ts)"
        ),
    )
