"""Join operators (SURVEY.md section 2.3, J1-J12).

Reference parity (all citations into /root/reference):
- J1-J3 dim lookup left joins: Stage_area.sql:181-182, 200-202.
- J4 normalized-string join: Stage_area.sql:219-220
  (`ON TRIM(LOWER(result_name)) = TRIM(LOWER(concept_name))`).
- J5/J6 interval (as-of) joins: Stage_area.sql:237-245, 251-256
  (`event_datetime BETWEEN intime AND outtime`). MariaDB's UPDATE
  keeps an arbitrary match; here multi-matches are deduplicated
  DETERMINISTICALLY (row_number over an explicit order).
- J7 null-safe join: Stage_area.sql:278-283
  (`(a IS NULL AND b IS NULL) OR a=b` == Spark `<=>`).
- J8-J10 anti/semi patterns: Stage_area.sql:299-301; DWH.sql:124-177.
- J12 scalar-subquery lookup: Stage_area.sql:225-231.

Scale notes: dimension sides are broadcast (classic star-schema win —
no shuffle of the fact). The interval join is an equi-join on the
reference's natural keys with the BETWEEN as a post-join filter plus
windowed dedup, NOT a broadcast-nested-loop: the equi keys keep it a
hash join at 100 TB; skewed keys are AQE-split.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.cleanse import normalized_key


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1-J3: fact x (filtered) dimension lookup. Dim is broadcast by
    default — at warehouse scale dims are MBs while facts are TBs."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on, how)


def normalized_string_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    how: str = "left",
) -> DataFrame:
    """J4: equi-join on TRIM(LOWER(x)) of both sides."""
    return left.join(
        F.broadcast(right),
        normalized_key(left.__getattr__(left_col)).eqNullSafe(
            normalized_key(right.__getattr__(right_col))
        ),
        how,
    )


def interval_join_pick_first(
    left: DataFrame,
    right: DataFrame,
    equi: Column,
    ts_col: Column,
    lo_col: Column,
    hi_col: Column,
    left_key: list[str],
    order: list[Column],
    how: str = "left",
) -> DataFrame:
    """J5/J6: equi-keys + `ts BETWEEN lo AND hi`, then deterministic
    pick-first over ``order`` per ``left_key`` row (replaces MariaDB
    UPDATE's arbitrary-match semantics, Stage_area.sql:237-245).

    The BETWEEN rides on the equi hash join as a post-filter; the
    dedup window partitions by the left row's key — same shuffle key
    as the join, so AQE can reuse the exchange.
    """
    joined = left.join(right, equi & ts_col.between(lo_col, hi_col), how)
    w = Window.partitionBy(*left_key).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: bounded FIFO of packed-interval relations pinned by the broadcast
#: path of interval_pick_first_mapside: the newest few stay cached
#: for their callers' (lazy) actions, the oldest is unpersisted when
#: the registry overflows — executor storage memory holds at most
#: this many pinned probes per session regardless of call count.
#: Mutation is lock-guarded (round-16 advice): concurrent driver
#: threads building interval joins must not race the append/pop, and
#: evictions are counted so a workload whose concurrency outruns the
#: cap is observable (an evicted-before-action probe silently
#: recomputes its groupBy — correct, but the perf guarantee degrades;
#: raise the cap via set_pinned_packed_max when the counter climbs).
_PINNED_PACKED: list[DataFrame] = []
_PINNED_PACKED_MAX = 4
_PINNED_PACKED_LOCK = threading.Lock()
#: process-lifetime count of probes evicted by cap overflow
PINNED_PACKED_EVICTIONS = 0


def set_pinned_packed_max(n: int) -> None:
    """Resize the pinned-probe cap for sessions whose driver-side
    concurrency exceeds the default 4 in-flight interval joins."""
    global _PINNED_PACKED_MAX
    if n < 1:
        raise ValueError("cap must be >= 1")
    with _PINNED_PACKED_LOCK:
        _PINNED_PACKED_MAX = n


def _pin_packed(df: DataFrame) -> None:
    global PINNED_PACKED_EVICTIONS
    evicted: list[DataFrame] = []
    with _PINNED_PACKED_LOCK:
        _PINNED_PACKED.append(df)
        while len(_PINNED_PACKED) > _PINNED_PACKED_MAX:
            evicted.append(_PINNED_PACKED.pop(0))
            PINNED_PACKED_EVICTIONS += 1
    for old in evicted:  # unpersist outside the lock (JVM call)
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — session already stopped
            pass


def interval_pick_first_mapside(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    ts_col: Column,
    lo: str,
    hi: str,
    order_cols: list[str],
    payload: list[str],
    left_row_key: list[str],
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """J5/J6 pick-first as a MAP-SIDE operation (round 13): pack the
    right side's intervals per equi key into ONE sorted array, size-
    gated-broadcast it, and resolve each left row with a per-row
    ``filter(ts BETWEEN lo AND hi)`` + take-first — the left
    (fact-scale) side never enters an exchange and there is no
    row_number window at all. This replaces the SMJ + window form for
    exactly the workloads the reference has (UPDATE ... JOIN ON
    BETWEEN, Stage_area.sql:237-245, 251-256), where the right side
    is admission-grained: bounded rows per key, relation size ~
    admissions.

    Pick-first determinism: the packed array is array_sort'ed on
    (order_cols with an explicit null-last flag per nullable field,
    then the payload fields), so ties in the order columns carry
    identical payloads and the element taken is unique-valued — the
    same contract the window form's ORDER BY gives. Rows whose lo/hi
    is NULL can never satisfy BETWEEN and are dropped by the per-row
    filter, exactly like the join form.

    Scale: the packed relation grows with the right side's key count
    (admissions), not events. Above ``max_broadcast_rows`` (probe via
    size_gated_broadcast's count; one cheap job) this falls back to
    the classic interval_join_pick_first — one keyed exchange + a
    window sharing it — with identical semantics.

    Round-13 A/B verdict (alternating same-process runs of the star
    pipeline): the WINDOW form beat this operator at both probed
    scales (sf0.1 6.5-7.5 vs 8.5-9.4 s; 256x 28.2 vs 32.3 s) when
    the two UPDATEs share one exchange — the probe/pack/broadcast
    fixed costs exceed the saved shuffle there, so star.py uses the
    window form. This operator remains for the workloads it does
    win: a single pick-first against a small interval dim where the
    left is not otherwise exchanged.

    Returns left columns + ``payload`` columns (NULL when no
    interval matches)."""
    left_keys = [lk for lk, _ in on]
    right_keys = [rk for _, rk in on]
    fields = []
    for i, c in enumerate(order_cols):
        fields.append(F.col(c).isNull().cast("int").alias(f"__n{i}"))
        fields.append(F.col(c).alias(f"__o{i}"))
    for p in payload:
        fields.append(F.col(p).alias(p))
    fields.append(F.col(lo).alias("__lo"))
    fields.append(F.col(hi).alias("__hi"))
    packed = right.groupBy(*right_keys).agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("__iv")
    ).persist()  # one aggregation feeds BOTH the size probe and the
    # broadcast build (without it the probe's count and the broadcast
    # exchange would each recompute the groupBy). Released on the
    # fallback path below (never read again there); on the broadcast
    # path the relation must outlive the caller's (lazy) action, so
    # it is handed to the bounded _PINNED_PACKED registry — a
    # long-lived session pins at most _PINNED_PACKED_MAX probes
    # (each <= max_broadcast_rows) instead of accumulating one per
    # call (round-14 advice). Eviction is always safe: unpersist
    # only drops the cache, a still-referenced plan just recomputes.
    side, fits = size_gated_broadcast(packed, max_broadcast_rows)
    if not fits:
        packed.unpersist()
        equi = None
        for lk, rk in on:
            c = F.col(lk) == F.col(rk)
            equi = c if equi is None else equi & c
        joined = interval_join_pick_first(
            left,
            right,
            equi=equi,
            ts_col=ts_col,
            lo_col=F.col(lo),
            hi_col=F.col(hi),
            left_key=left_row_key,
            order=[F.col(c).asc_nulls_last() for c in order_cols],
        )
        extras = [c for c in right.columns if c not in payload]
        return joined.drop(*extras)
    _pin_packed(packed)
    cond = None
    for lk, rk in on:
        c = F.col(lk) == F.col(rk)
        cond = c if cond is None else cond & c
    joined = left.join(side, cond, "left")
    pick = F.get(
        F.filter(
            F.col("__iv"),
            lambda x: ts_col.between(x["__lo"], x["__hi"]),
        ),
        0,
    )
    out = joined.withColumn("__pick", pick).drop("__iv", *right_keys)
    for p in payload:
        out = out.withColumn(p, F.col("__pick")[p])
    return out.drop("__pick")


def null_safe_join(
    left: DataFrame, right: DataFrame, pairs: list[tuple[str, str]], how: str = "inner"
) -> DataFrame:
    """J7: join where NULL == NULL (junk-dim linkage)."""
    cond = None
    for lc, rc in pairs:
        c = left.__getattr__(lc).eqNullSafe(right.__getattr__(rc))
        cond = c if cond is None else (cond & c)
    return left.join(F.broadcast(right), cond, how)


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J8/J9: rows of left with no match in right (insert-if-absent /
    NOT EXISTS; Catalyst decorrelates either way)."""
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J10/J11 keep-side: rows of left with a match in right."""
    return left.join(right, on, "left_semi")


def orphan_cleanup(
    fact: DataFrame, dim: DataFrame, fk: str, dim_key: str
) -> DataFrame:
    """J10/M6 exact DWH semantics (DWH.sql:150-177): drop fact rows
    whose NON-NULL FK has no dim match; NULL-FK rows are kept.

    Pure recompute replacing MariaDB's DELETE: left join + keep
    (fk IS NULL) OR matched."""
    d = F.broadcast(dim.select(F.col(dim_key).alias("__dim_key")).distinct())
    return (
        fact.join(d, fact.__getattr__(fk) == F.col("__dim_key"), "left")
        .filter(fact.__getattr__(fk).isNull() | F.col("__dim_key").isNotNull())
        .drop("__dim_key")
    )


def scalar_lookup_default(
    fact: DataFrame, col: str, scalar_df: DataFrame, out: str | None = None
) -> DataFrame:
    """J12/M2: UPDATE ... SET x = (scalar subquery) WHERE x IS NULL as
    coalesce with a driver-side one-row lookup (one tiny job — fine at
    any scale; it is one row by construction)."""
    row = scalar_df.first()
    default = None if row is None else row[0]
    return fact.withColumn(out or col, F.coalesce(F.col(col), F.lit(default)))


#: (applicationId, plan semanticHash, max_rows) -> fits; see
#: size_gated_broadcast's memoization contract
_SIZE_GATE_MEMO: dict[tuple, bool] = {}


def size_gated_broadcast(
    small: DataFrame, max_rows: int
) -> tuple[DataFrame, bool]:
    """Broadcast ``small`` only while it is actually small —
    otherwise hand it back hinted for a shuffle-hash join, flipping
    the caller's join to the keyed-shuffle form its docstring
    promises (round-12 verdict item 6: the tfidf_keywords / lm.py
    vocabulary joins described this fallback in prose but always
    broadcast in code).

    The probe is one ``count()`` action over the candidate relation
    — callers pass already-slim, usually cached vocabulary-sized
    aggregates, so the probe costs one cheap job and buys a plan
    that cannot OOM the driver when a web-scale vocabulary outgrows
    broadcast. Returns (possibly-hinted df, broadcasted?). The
    shuffle side uses a shuffle_hash hint, not sort-merge: the
    vocabulary side stays hash-table-sized PER PARTITION even when
    its total outgrows the broadcast budget.

    The verdict is MEMOIZED per (plan semantic hash, budget) for the
    session: repeated invocations of the same query — the warm-up +
    timed bench protocol, a dashboard refresh — pay the probe once
    (measured ~0.3 s per call at sf0.1). The io.read_table-memoization
    assumption applies: the relations under a plan are immutable test
    fixtures here. A source that mutates under the same plan (e.g. an
    appended-to directory re-read in one session) must not be gated
    here: its first-sight verdict would stick and could broadcast a
    relation that has outgrown the budget."""
    if max_rows < 0:
        raise ValueError("max_rows must be >= 0")
    try:
        key = (
            small.sparkSession.sparkContext.applicationId,
            small.semanticHash(),
            max_rows,
        )
    except Exception:  # noqa: BLE001 — hash unavailable: just probe
        key = None
    if key is not None and key in _SIZE_GATE_MEMO:
        fits = _SIZE_GATE_MEMO[key]
    else:
        fits = small.count() <= max_rows
        if key is not None:
            _SIZE_GATE_MEMO[key] = fits
    if fits:
        return F.broadcast(small), True
    return small.hint("shuffle_hash"), False


def estimate_salt_buckets(
    left: DataFrame,
    left_key: str,
    target_rows_per_task: int = 2_000_000,
    sample_fraction: float = 1.0,
    max_buckets: int = 1024,
) -> int:
    """Derive the salt bucket count from the left side's key-frequency
    sketch: buckets ~= hottest-key row count / ``target_rows_per_task``
    (clamped to [1, max_buckets]) — so the caller never has to guess
    the skew. The probe is one aggregate over the key column only
    (map-side combine shrinks it to distinct keys per partition, the
    standard skew-detection pass; AQE derives the same signal from
    shuffle stats at runtime). ``sample_fraction < 1`` scans a sample
    and scales the estimate — the cheap knob when even one key-column
    pass is too expensive. Batch-only (sampling a stream is
    undefined); salted_join requires explicit buckets on streams."""
    import math

    probe = (
        left
        if sample_fraction >= 1.0
        else left.sample(fraction=sample_fraction, seed=7)
    )
    row = (
        probe.groupBy(left_key)
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").alias("mx"))
        .first()
    )
    top = int((row["mx"] or 0) / sample_fraction)
    return max(1, min(max_buckets, math.ceil(top / target_rows_per_task) or 1))


def _salted_left(left: DataFrame, buckets: int) -> DataFrame:
    """Attach the per-row __salt shard id (content-independent where
    possible — see salted_join docstring)."""
    if left.isStreaming:
        salt = F.pmod(
            F.xxhash64(F.spark_partition_id(), *left.columns), F.lit(buckets)
        ).cast("int")
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(buckets)).cast("int")
    return left.withColumn("__salt", salt)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    buckets: int | None = None,
    how: str = "inner",
    target_rows_per_task: int = 2_000_000,
) -> DataFrame:
    """Skew-mitigating equi-join for when one join key dominates
    (clinical data: a handful of admissions hold most events) and the
    small side is too big to broadcast.

    The heavy (left) side is sharded into ``buckets`` sub-keys by a
    per-row salt INDEPENDENT of row content where possible — a payload
    hash silently collapses to one bucket whenever a hot key's rows
    share identical payloads (common: duplicated events), exactly the
    case salting exists for. Batch: monotonically_increasing_id is
    unique per row, so pmod spreads every hot key uniformly. Streaming
    (miid unsupported): fall back to a hash of ALL columns plus the
    partition id, which still separates identical payloads that arrive
    on different input partitions; add a uniquifier column upstream if
    a single partition can carry a whole hot key of identical rows.
    The right side is replicated once per bucket (cost: buckets x
    |right|, which is why broadcast is still preferred when it fits),
    so every left shard finds its matches.

    AQE's skew-join splitting (enabled in session.py) handles most of
    this automatically at runtime; use salted_join when a single key
    is so hot that even one post-split partition exceeds executor
    memory, or when AQE is unavailable (streaming joins).

    ``buckets=None`` (default) self-tunes on batch inputs: one
    key-frequency probe sizes the shard count so the hottest key's
    rows land under ``target_rows_per_task`` per task (see
    estimate_salt_buckets). Streams must pass explicit buckets — the
    probe would need an eager scan of the stream.
    """
    if buckets is None:
        if left.isStreaming:
            raise ValueError(
                "salted_join(buckets=None) sizes the salt from a key-frequency"
                " probe of `left`, which cannot run on a streaming DataFrame —"
                " pass an explicit buckets count"
            )
        buckets = estimate_salt_buckets(left, left_key, target_rows_per_task)
    l_ = _salted_left(left, buckets)
    r_ = right.crossJoin(
        F.broadcast(
            right.sparkSession.range(buckets).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = l_.join(
        r_,
        (l_[left_key] == r_[right_key]) & (l_["__salt"] == r_["__salt"]),
        how,
    )
    return out.drop("__salt")


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Range join WITHOUT equi keys: left points `point_col` matched
    to right intervals [lo_col, hi_col] (numeric/epoch columns).

    Naive Spark plans this as BroadcastNestedLoopJoin — O(|L| x |R|),
    unusable at scale. Binning makes it an equi-join: each interval
    is exploded to the bins it overlaps, each point lands in exactly
    one bin, the join key is the bin id, and the BETWEEN rides as a
    post-filter. Every true match appears exactly once (the point's
    single bin), so no dedup is needed.

    Cost: |R| inflates by ~(interval_len / bin_width + 1); the join
    shuffles on uniformly-distributed bin ids. Pick bin_width near
    the median interval length so inflation stays ~2x. This is the
    standard bucketized range-join (same construction as Databricks'
    range-join hint, built here from public primitives).

    ``bin_width=None`` (default) self-tunes: one tiny aggregate reads
    the MEDIAN interval length (approx_percentile sketch — a scan of
    two columns, no shuffle of the data) and uses it as the width.
    Half the intervals then explode to <= 2 bins, and longer tails
    inflate proportionally to their own length — total inflation ~2x
    regardless of the caller's units. A caller constant remains only
    a hint for when the right side is too expensive to pre-scan.
    """
    if bin_width is None:
        if right.isStreaming:
            raise ValueError(
                "range_join_binned(bin_width=None) self-tunes by eagerly"
                " scanning `right` for its median interval length, which"
                " cannot run on a streaming DataFrame — pass an explicit"
                " bin_width"
            )
        row = right.select(
            F.percentile_approx(
                (F.col(hi_col) - F.col(lo_col)).cast("double"), 0.5, 1000
            ).alias("m")
        ).first()
        med = row["m"] if row is not None else None
        bin_width = max(int(med), 1) if med else 1
    bins = F.sequence(
        F.floor(F.col(lo_col) / bin_width).cast("long"),
        F.floor(F.col(hi_col) / bin_width).cast("long"),
    )
    r_binned = right.withColumn("__bin", F.explode(bins))
    l_binned = left.withColumn(
        "__bin", F.floor(F.col(point_col) / bin_width).cast("long")
    )
    out = l_binned.join(
        r_binned,
        (l_binned["__bin"] == r_binned["__bin"])
        & l_binned[point_col].between(r_binned[lo_col], r_binned[hi_col]),
        how,
    )
    return out.drop("__bin")


def fuzzy_blocked_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy entity resolution: candidate record pairs whose
    ``name_col`` values are within Levenshtein distance ``max_dist``,
    generated ONLY within equal ``block_cols`` blocks. This is the
    duplicate-patient / duplicate-provider detection step a clinical
    DWH runs on its dimension loads — the fuzzy escalation of the
    reference's TRIM(LOWER()) normalize-then-equi-join idiom
    (Stage_area.sql:219-220): J4 catches formatting variants, this
    catches typos.

    Scale shape: the classic blocked-ER plan. The self-join is an
    EQUI-join on the blocking key, so it hash-partitions; candidates
    are quadratic only within a block, never across the table — at
    100 TB the blocking key must bound block size (add more keys or
    switch to sorted-neighborhood / LSH blocking; a hot block is a
    skew key and AQE splits it). Two cheap pre-filters run before the
    O(len^2) levenshtein: the a<b dedup (halves candidates) and a
    length-difference bound (|len(a)-len(b)| > max_dist can never be
    within distance — prunes without computing the DP matrix).

    Returns (id_a, id_b, name_a, name_b, edit_dist) with id_a < id_b.
    """
    base = df.select(
        F.col(id_col), F.col(name_col), *[F.col(c) for c in block_cols]
    )
    a = base.select(
        *[F.col(c).alias(f"{c}_a") for c in (id_col, name_col)],
        *[F.col(c) for c in block_cols],
    )
    b = base.select(
        *[F.col(c).alias(f"{c}_b") for c in (id_col, name_col)],
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
    )
    block_eq = [F.col(c) == F.col(f"__b_{c}") for c in block_cols]
    cond = block_eq[0]
    for c in block_eq[1:]:
        cond = cond & c
    cond = (
        cond
        & (F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        & (
            F.abs(F.length(f"{name_col}_a") - F.length(f"{name_col}_b"))
            <= max_dist
        )
    )
    dist = F.levenshtein(F.col(f"{name_col}_a"), F.col(f"{name_col}_b"))
    return (
        a.join(b, cond)
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") <= max_dist)
        .select(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
            F.col(f"{name_col}_a").alias("name_a"),
            F.col(f"{name_col}_b").alias("name_b"),
            "edit_dist",
        )
    )


def interval_overlap_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: int,
) -> DataFrame:
    """Interval-OVERLAP join (two interval sets, numeric/epoch
    bounds): match every (L, R) pair with
    ``L.lo <= R.hi AND R.lo <= L.hi`` — the clinical shape
    range_join_binned's point-in-interval cannot express (care-unit
    stays x medication windows, admission episodes x lab batching
    windows; the reference's BETWEEN joins are the degenerate
    zero-length-left case).

    Same binning construction, both sides exploded: each interval
    maps to every bin it touches, the equi-join keys on the bin id,
    the true overlap predicate rides as a post-filter — never a
    nested loop. A pair overlapping k shared bins would appear k
    times, so the join takes only the pair's FIRST shared bin
    (bin = greatest of the two lo-bins), which each true pair
    produces exactly once: dedup by construction, no distinct
    needed. Cost: each side inflates by ~len/bin_width + 1; pick
    bin_width near the median interval length."""
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    b = int(bin_width)

    def bins(df, lo, hi, side):
        return df.select(
            F.struct(*[F.col(c) for c in df.columns]).alias(f"_{side}"),
            F.col(lo).alias(f"_{side}lo"),
            F.col(hi).alias(f"_{side}hi"),
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / b).cast("bigint"),
                    F.floor(F.col(hi) / b).cast("bigint"),
                )
            ).alias(f"_{side}bin"),
        )

    lb = bins(left, left_lo, left_hi, "l")
    rb = bins(right, right_lo, right_hi, "r")
    joined = lb.join(
        rb,
        (F.col("_lbin") == F.col("_rbin"))
        & (F.col("_llo") <= F.col("_rhi"))
        & (F.col("_rlo") <= F.col("_lhi"))
        # first-shared-bin guard: exactly one bin per true pair
        & (
            F.col("_lbin")
            == F.greatest(
                F.floor(F.col("_llo") / b).cast("bigint"),
                F.floor(F.col("_rlo") / b).cast("bigint"),
            )
        ),
    )
    return joined.select("_l.*", "_r.*")


def survivorship(
    df: DataFrame,
    key_col: str,
    rules: dict[str, str],
    order_col: str | None = None,
) -> DataFrame:
    """Golden-record survivorship — the merge step after entity
    resolution (fuzzy_blocked_pairs/dedup clusters assign the key;
    this collapses each cluster to ONE record by per-column rule):

        'first_non_null'  first by ``order_col`` with a value
        'max' / 'min'     extreme value in the cluster
        'longest'         longest string (ties: first by order)

    ONE aggregation per cluster key — every rule compiles to
    max_by/min_by/min/max aggregate expressions, so the merge is a
    single shuffle regardless of how many columns have rules (the
    MDM-tool behavior, built from public primitives)."""
    order_col = order_col or key_col
    aggs = []
    for c, rule in rules.items():
        if rule == "first_non_null":
            e = F.expr(
                f"min_by({c}, IF({c} IS NULL, NULL, {order_col}))"
            )
        elif rule == "max":
            e = F.max(c)
        elif rule == "min":
            e = F.min(c)
        elif rule == "longest":
            e = F.expr(
                f"max_by({c}, IF({c} IS NULL, NULL,"
                f" named_struct('l', length({c}), 'o', -{order_col})))"
            )
        else:
            raise ValueError(f"unknown survivorship rule: {rule}")
        aggs.append(e.alias(c))
    return df.groupBy(key_col).agg(*aggs)
