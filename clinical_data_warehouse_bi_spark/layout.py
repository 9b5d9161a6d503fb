"""Data-layout optimization: Z-order (Morton) clustering for
multi-column data skipping.

The reference engine relies on B-tree indexes for selective access
(Stage_area.sql's PRIMARY KEYs / DWH.sql's dimension keys — SURVEY §2
M8). Spark has no secondary indexes; its equivalents are (a) bucketing
for join locality (io.write_bucketed_table) and (b) MIN/MAX-statistics
pruning at file and row-group granularity, which only works when the
data is CLUSTERED on the filtered columns. Sorting clusters one
column; Z-ordering interleaves the bits of k normalized columns so
that rows close in the Morton curve are close in EVERY dimension —
the standard multi-dimensional clustering layout (Morton 1966; the
same technique behind Delta Lake's OPTIMIZE ZORDER BY, implemented
here from the public construction).

Scale shape: one tiny min/max agg job, one range exchange on the
Morton key (never a single-partition sort), per-partition sort, then
parallel parquet writes. At 100 TB the payoff is double pruning: the
range partitioning clusters z-ranges into FILES (file-level min/max
skipping at planning time) and the within-partition sort clusters
them into ROW GROUPS (footer-stat skipping at scan time) — a box
query on any subset of the z-columns touches O(box volume) of the
data instead of all of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: default bits per dimension: 12 bits x up to 5 columns stays well
#: inside a 63-bit signed long
ZORDER_BITS = 12


def _interleave_sql(n_cols: int, bits: int) -> str:
    """SQL text for the Morton interleave of ``n_cols`` pre-normalized
    integer columns ``__zt0..__zt{n-1}``: bit i of column c
    lands at position i*n_cols + c. Built as ONE parsed SQL string —
    the Column-object tower would cost a py4j round-trip per bit
    (SURVEY §9 items 7/12)."""
    if n_cols * bits > 62:
        raise ValueError(f"{n_cols} cols x {bits} bits exceeds a signed long")
    terms = [
        f"(shiftleft(shiftright(__zt{c}, {i}) & 1, {i * n_cols + c}))"
        for i in range(bits)
        for c in range(n_cols)
    ]
    return "cast(" + " + ".join(terms) + " as bigint)"


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = ZORDER_BITS,
    bounds: dict[str, tuple[float, float]] | None = None,
    normalize: str = "linear",
) -> DataFrame:
    """Append a ``__z`` Morton-key column interleaving ``cols``.

    ``normalize='linear'`` (default): each column is min/max-scaled
    to ``[0, 2^bits)`` — one small agg job unless ``bounds`` are
    supplied (e.g. from parquet footer statistics via
    io.parquet_numeric_bounds). Cheap, but a heavy-tailed column
    collapses most rows into a few buckets and the curve degrades to
    a 1-D sort on the remaining columns.

    ``normalize='quantile'``: equi-depth bucketing — bucket
    boundaries from approxQuantile (one pass, Greenwald-Khanna), then
    a vectorized numpy searchsorted per Arrow batch assigns buckets.
    Every bucket holds ~equal row counts REGARDLESS of the value
    distribution, which is what preserves the curve's locality under
    skew (and is what production OPTIMIZE ZORDER implementations do).
    Prefer bits <= 10 here: 2^bits-1 boundary values ride into the
    executor as a broadcast numpy array.

    NULLs normalize to bucket 0 in both modes, so they cluster at the
    curve's origin rather than scattering."""
    norm: list = []
    if normalize == "quantile":
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        probs = [j / float(1 << bits) for j in range(1, 1 << bits)]
        uniq = list(dict.fromkeys(cols))
        all_bnds = df.select(
            *[F.col(c).cast("double").alias(c) for c in uniq]
        ).approxQuantile(uniq, probs, 1.0 / (4 << bits))
        bnds_by_col = dict(zip(uniq, all_bnds))

        def _make_bucket_udf(b):
            def _bucket(s):
                v = s.astype("float64")
                out = np.searchsorted(b, v.to_numpy(), side="right")
                return pd.Series(out).where(~v.isna().to_numpy(), 0)

            # real (non-PEP563-stringified) hints: this module uses
            # `from __future__ import annotations`, which would turn
            # inline hints into strings pandas_udf cannot resolve
            _bucket.__annotations__ = {"s": pd.Series, "return": pd.Series}
            return pandas_udf(_bucket, "long")

        for i, c in enumerate(cols):
            udf = _make_bucket_udf(np.asarray(bnds_by_col[c], dtype="float64"))
            norm.append(
                F.coalesce(udf(F.col(c)), F.lit(0)).cast("long").alias(f"__zt{i}")
            )
    elif normalize == "linear":
        if bounds is None:
            # min/max in the DOUBLE domain the scaling runs in, so
            # timestamp/date/decimal columns work (their native
            # min/max would come back as Python objects float() on
            # the driver cannot consume)
            aggs = []
            for c in cols:
                d = F.col(c).cast("double")
                aggs += [F.min(d).alias(f"mn_{c}"), F.max(d).alias(f"mx_{c}")]
            row = df.agg(*aggs).first()
            bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}
        top = (1 << bits) - 1
        for i, c in enumerate(cols):
            mn, mx = bounds[c]
            if mn is None or mx is None or float(mx) == float(mn):
                expr = F.lit(0).cast("long")
            else:
                scale = top / (float(mx) - float(mn))
                expr = F.least(
                    F.lit(top).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"),
                        F.floor((F.col(c).cast("double") - float(mn)) * scale + 0.5),
                    ),
                )
            norm.append(F.coalesce(expr, F.lit(0).cast("long")).alias(f"__zt{i}"))
    else:
        raise ValueError(f"unknown normalize mode: {normalize!r}")
    staged = df.select("*", *norm)
    z = F.expr(_interleave_sql(len(cols), bits))
    return staged.withColumn("__z", z).drop(*[f"__zt{i}" for i in range(len(cols))])


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = ZORDER_BITS,
    partitions: int | None = None,
    parquet_block_bytes: int | None = None,
    normalize: str = "linear",
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``:
    range-partition on the Morton key (file-level clustering), sort
    within partitions (row-group-level clustering), drop the key,
    write. ``parquet_block_bytes`` bounds the parquet row-group size
    — smaller groups = finer skipping granularity at more footer
    overhead (the test uses a small value to force many groups from
    small data; production leaves the default 128 MB)."""
    keyed = zorder_key(df, cols, bits=bits, normalize=normalize)
    n = partitions or keyed.rdd.getNumPartitions()
    clustered = (
        keyed.repartitionByRange(n, "__z").sortWithinPartitions("__z").drop("__z")
    )
    w = clustered.write.mode("overwrite")
    if parquet_block_bytes:
        w = w.option("parquet.block.size", str(parquet_block_bytes))
    # a Z-ordered layout EXISTS for footer min/max skipping; legacy
    # INT96 timestamps write no statistics at all, silently voiding
    # the whole exercise for time columns. Pin INT64 micros for this
    # write even under a session that kept the INT96 default.
    spark = df.sparkSession
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        w.parquet(path)
    finally:
        spark.conf.set(key, before)


def morton_interleave_py(values: list[int], bits: int) -> int:
    """Pure-Python reference Morton interleave (test cross-check)."""
    z = 0
    for i in range(bits):
        for c, v in enumerate(values):
            z |= ((v >> i) & 1) << (i * len(values) + c)
    return z


def row_group_stats(path: str, cols: list[str]) -> list[dict]:
    """Footer MIN/MAX statistics per row group across all parquet
    files under ``path`` — the exact information a scan's row-group
    skipping decision uses. Returns one dict per row group:
    {col: (min, max), ...}. A column chunk is allowed to omit
    statistics entirely (the parquet spec makes them optional, and
    writers skip them for e.g. oversized binary values); such a
    chunk yields ``(None, None)`` — the scan cannot prune on it."""
    import glob
    import os

    import pyarrow.parquet as pq

    out: list[dict] = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        name_to_idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            stats = {}
            for c in cols:
                s = g.column(name_to_idx[c]).statistics
                if s is None or not s.has_min_max:
                    stats[c] = (None, None)
                else:
                    stats[c] = (s.min, s.max)
            out.append(stats)
    return out


def matching_row_groups(
    path: str, box: dict[str, tuple[float, float]]
) -> tuple[int, int]:
    """(total row groups, row groups whose min/max ranges intersect
    every ``box`` predicate) — i.e. how many groups a footer-pruned
    scan of ``col BETWEEN lo AND hi AND ...`` must actually read.
    A row group whose chunk carries no min/max statistics for a
    predicate column is UNPRUNABLE on that column: the scan must
    read it, so it counts as a hit (never a crash)."""
    from datetime import datetime, timezone

    def norm(v):
        # parquet timestamp stats come back tz-aware (isAdjustedToUTC)
        # while Spark-collected probe values are naive UTC (the
        # session pins UTC); pin both to UTC so they compare
        if isinstance(v, datetime) and v.tzinfo is None:
            return v.replace(tzinfo=timezone.utc)
        return v

    def intersects(g, c, lo, hi):
        mn, mx = g[c]
        if mn is None or mx is None:
            return True  # stats absent → cannot prune → must read
        return norm(mn) <= norm(hi) and norm(mx) >= norm(lo)

    groups = row_group_stats(path, list(box))
    hit = sum(
        1
        for g in groups
        if all(intersects(g, c, lo, hi) for c, (lo, hi) in box.items())
    )
    return len(groups), hit


def zorder_effectiveness(
    plain_path: str, zordered_path: str, box: dict[str, tuple[float, float]]
) -> dict:
    """Compare footer-prunable row-group counts for a box query
    between two layouts of the same data. The operational check a
    layout job runs after OPTIMIZE: skipping improved, by how much."""
    p_tot, p_hit = matching_row_groups(plain_path, box)
    z_tot, z_hit = matching_row_groups(zordered_path, box)
    return {
        "plain": {"total": p_tot, "matching": p_hit},
        "zordered": {"total": z_tot, "matching": z_hit},
        "plain_frac": p_hit / max(p_tot, 1),
        "zordered_frac": z_hit / max(z_tot, 1),
        "skip_improvement": (p_hit / max(p_tot, 1)) / max(z_hit / max(z_tot, 1), 1e-9),
    }
