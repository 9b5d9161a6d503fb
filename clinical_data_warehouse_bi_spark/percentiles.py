"""Distributed EXACT interpolated percentiles with bounded state on
BOTH sides of the driver/executor split.

The round-3 bucketed exact-percentile form bounded the executor
aggregation state at O(4096) but still merged per-group histograms on
the driver — O(groups x columns x occupied buckets) counters plus a
Python loop per rank item, which becomes the bottleneck exactly when
the group key is high-cardinality (percentiles per admission:
millions of groups). This module is the round-5 fix (and since round
6 the ONLY implementation — the driver-merge path is deleted): rank
resolution itself is a DataFrame plan — cumulative windows over
the histogram relation, rank-target location as a broadcast join, and
value lookup only inside rank-holding buckets — so the driver never
materializes a histogram. Driver-visible data is O(1): optional probe
scalars and one (max-bucket-ndv, target-count) pair per refinement
level; the located-target relations live as executor-side
localCheckpoints.

Definition matched bit-for-bit (property-tested): DuckDB
``quantile_cont`` == Spark ``percentile`` — value at continuous index
(n-1)*p of the sorted multiset; interpolation uses Spark
Percentile.getPercentile's exact arithmetic (the two-sided weighted
form, lower value alone at integral positions — ``lo + (hi-lo)*frac``
is 1 ulp off on some inputs).

Reference analogue: the BI summary surface (DWH.sql:203-210).

Pass/job structure (bucketed path) — two passes over the data, TWO
Spark jobs in the common no-refinement case with footer bounds:

  bounds   global (min, max) per column from parquet FOOTER stats
           when the caller has them (io.parquet_numeric_bounds — a
           driver metadata read, NO job); else one probe job, which
           also feeds the native-`percentile` fast path for verified
           low-cardinality columns
  locate   pass 1 over the data: long-form v (group, col, value,
           b0/b1/b2 nested 4096-way bucket indexes, literal
           arithmetic so membership at any level is integer
           path-prefix equality) -> histogram groupBy (group, col,
           b0) -> ONE window per (group, col) yields each bucket's
           running count AND the group total -> rank targets
           t=(n-1)*p (floor/ceil) fall out of a broadcast join with
           the tiny spec relation filtered to the rank-holding
           bucket. The group universe (for all-NULL groups) rides
           the SAME job via exchange reuse. Output checkpoints
           LAZILY: the per-level (max bucket ndv, pending count)
           stat read is the checkpoint's own materializing action —
           the graph.py connected-components idiom — so locating
           and deciding refinement is ONE job, not two. O(groups x
           specs) rows live on executors, lineage truncated; the
           driver sees two scalars.
  refine   only if that stat shows a rank-holding bucket whose
           DISTINCT-value sketch exceeds ``refine_cap``: re-locate
           those ranks inside level-1 (then level-2) sub-buckets —
           one extra (stat-fused) pass each, same shape; 4096^3
           positions exhaust double precision on any real range.
           The gate is ndv, not row count: the state the resolve
           stage actually holds per bucket is one row PER DISTINCT
           VALUE, so a bucket with a million copies of one value
           needs no refinement — and range subdivision could never
           split it anyway (the round-12 256x-probe finding: the
           row-count gate burned LEVELS full passes over the data
           failing to split single-value buckets, 13.6 s @64x ->
           132 s @256x superlinear)
  resolve  pass 2 over the data: rows path-joined to the broadcast
           needed-bucket set, COLLAPSED to (value, count) by a
           map-side-combining groupBy (the exchange carries distinct
           values only), cumulative row-rank spans per value from
           one window, the rank-holding value picked by a range
           join on rib in [cb, cb+c), ONE groupBy(group) pivots
           lo/hi and interpolates — all lazy, executed by the
           caller's action.

Fault tolerance: localCheckpoint trades lineage for speed — an
executor loss makes the truncated lineage unrecoverable mid-query.
Checkpointed state is released by ``release(result_df)`` after the
caller's final action; otherwise Spark's ContextCleaner reclaims it
when the result DataFrame is garbage-collected.

Executor state: histogram hash-agg O(4096) per group (plus a small
per-bucket HLL sketch for the ndv gate); the resolve window sorts
one bucket's DISTINCT values (<= ~refine_cap via the sketch gate —
duplicate values collapse in the pre-window groupBy, so repeated-
value mass costs nothing beyond its map-side partial counts)."""

from __future__ import annotations

from itertools import count

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: per-process temp-view id sequence (unique names per call so
#: concurrent/nested invocations never collide in the session catalog)
_CALL_IDS = count()

#: buckets per refinement level (matches the round-3 bucketed form)
BUCKETS = 4096
#: max DISTINCT VALUES a rank-holding bucket may hold before another
#: refinement level is consulted; bounds the resolve window's sort
#: input (duplicate values collapse before that window, so row
#: multiplicity is irrelevant — refinement is gated on the state the
#: resolve stage actually keeps)
REFINE_CAP = 262144
#: relative standard deviation for the per-bucket distinct-value
#: sketch riding the locate/refine histograms — coarse on purpose:
#: the gate only needs order-of-magnitude ndv, and at rsd 0.15 the
#: HLL is ~50 registers, comparable to the count column it rides
#: next to (the default 0.05 sketch would be ~30x larger per bucket
#: and the histogram exchange is O(groups x cols x 4096) rows)
_NDV_RSD = 0.15
#: margin for the refinement gate against THIS sketch's error (the
#: generic _SKETCH_MARGIN = 0.9 covers a ~2%-rsd sketch; at rsd 0.15
#: it would only absorb a ~0.7-sigma underestimate). 0.5 covers a
#: >3-sigma underestimate, so a bucket whose true ndv exceeds
#: REFINE_CAP escapes refinement with only tail probability — the
#: bound on the resolve window's sort input is PROBABILISTIC, not
#: hard, and an escape costs memory headroom (a larger exact sort),
#: never wrong results. No behavior change at test scales: real
#: per-bucket ndv sits orders of magnitude below cap/2.
_NDV_GATE_MARGIN = 0.5
#: static refinement depth: 3 nested levels = 4096^3 ~ 6.9e10
#: addressable positions per column range — below double-precision
#: resolution for any non-degenerate range
LEVELS = 3
#: located-target row bound under which the needed-bucket relations
#: are explicitly broadcast into the refine/resolve joins
_BROADCAST_TARGETS = 1_000_000
#: safety margin applied to ``native_distinct_max`` before trusting
#: the approx_count_distinct sketch (default ~2% relative error) to
#: route to the native aggregate — keeps the per-group value->count
#: state bound honest even when the sketch underestimates
_SKETCH_MARGIN = 0.9


def _path_eq(path: list[str], left: str, right: str) -> Column:
    cond = F.col(f"{left}.__vk").eqNullSafe(F.col(f"{right}.__vk")) & (
        F.col(f"{left}.__vci") == F.col(f"{right}.__vci")
    )
    for c in path:
        cond = cond & (F.col(f"{left}.{c}") == F.col(f"{right}.{c}"))
    return cond


def exact_percentiles_distributed(
    df: DataFrame,
    key: str,
    specs: dict[str, list[tuple[float, str]]],
    native_distinct_max: int = 65536,
    refine_cap: int = REFINE_CAP,
    bounds: dict[str, tuple[float, float]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per group, fully distributed.

    ``specs``: {column: [(fraction, output_name), ...]}. Returns a
    lazy DataFrame (key, *output_names) — output names in spec order,
    all double. NULL measures are excluded from ranks (percentile
    semantics) but all-NULL groups stay visible with NULL results;
    NULL group keys flow through null-safe joins.

    ``bounds``: exact global (min, max) per column, e.g. from
    io.parquet_numeric_bounds — when it covers every spec column the
    probe job (and the native-path routing that needs its distinct
    estimates) is skipped entirely. Wider-than-actual bounds are
    harmless (buckets just sit sparser); WRONG bounds are not.

    Without ``bounds``: if every column's global approx-distinct is
    below ``native_distinct_max`` (with a ``_SKETCH_MARGIN`` safety
    factor for the sketch's ~2% error), delegates to Spark's native
    `percentile`, whose per-group value->count state is then bounded
    by the sketch-estimated distinct count; `native_distinct_max=0`
    forces the bucketed refinement (how the equivalence tests pin
    that path).

    ``n_rows``: the input's exact total row count when the caller
    knows it for free (e.g. io.parquet_num_rows' footer read). The
    value->count buffer Spark's native `percentile` keeps per group
    is bounded by that group's rows, and EACH percentile expression
    keeps its OWN buffer (three specs over one column = three
    buffers), so the gate budgets n_rows x total-spec-count ENTRIES:
    the native path is taken only when that product stays under 16M.
    At ~48 bytes per OpenHashMap entry (16 B value+count payload plus
    the map's ~3x bucket/array overhead — NOT 8 B/row), that caps the
    worst case — one giant all-distinct group — at ~768 MB on one
    executor, inside a multi-GB executor's headroom but deliberately
    conservative. Whatever the distinct structure, below the gate the
    single-job native path is taken with NO probe job at all. At
    100 TB the count is far above the gate and the bucketed
    refinement runs as before; the gate buys back the multi-job
    overhead exactly where it is pure overhead.
    ``native_distinct_max=0`` still forces the bucketed path (how the
    equivalence tests pin it), overriding this gate.

    Per-level located-target relations truncate lineage with
    ``localCheckpoint(eager=False)`` (fast, not executor-loss
    tolerant — see module docstring)."""
    spark = df.sparkSession
    checkpoints: list[DataFrame] = []
    cols = list(specs)
    names = [name for c in cols for _, name in specs[c]]

    total_specs = sum(len(v) for v in specs.values())
    if (
        n_rows is not None
        and native_distinct_max
        and n_rows * max(total_specs, 1) <= 16_000_000
    ):
        n_aggs = [
            F.expr(f"percentile({c}, {pfrac})").alias(name)
            for c in cols
            for pfrac, name in specs[c]
        ]
        # Pre-partition by the key so Catalyst elides the aggregate's
        # own exchange and the percentile runs SINGLE-phase: the
        # two-phase form serializes each task's full value buffer
        # into the shuffle (percentile has no compact partial state),
        # which measured ~1.5x slower than shuffling the slim rows
        # once. Row-gated, so the few-groups reducer bottleneck this
        # would create at scale cannot arise here.
        slim = df.select(
            F.col(key), *[F.col(c) for c in cols]
        ).repartition(df.sparkSession.sparkContext.defaultParallelism,
                      F.col(key))
        return slim.groupBy(F.col(key)).agg(*n_aggs)

    if bounds is not None and all(c in bounds for c in cols):
        live = list(range(len(cols)))
        lows = {ci: float(bounds[cols[ci]][0]) for ci in live}
        widths = {
            ci: (float(bounds[cols[ci]][1]) - lows[ci]) or 1.0 for ci in live
        }
    else:
        # probe: global bounds + distinct sketch — ONE job, O(cols)
        # scalars, the only data the driver ever collects
        p_aggs = []
        for ci, c in enumerate(cols):
            p_aggs += [
                F.min(F.col(c).cast("double")).alias(f"mn_{ci}"),
                F.max(F.col(c).cast("double")).alias(f"mx_{ci}"),
                F.approx_count_distinct(c).alias(f"ad_{ci}"),
            ]
        probe = df.agg(*p_aggs).collect()[0].asDict()

        live = [ci for ci in range(len(cols)) if probe[f"mn_{ci}"] is not None]
        if not live:
            # every spec column is globally NULL: NULL results per group
            return df.select(F.col(key)).distinct().select(
                F.col(key), *[F.lit(None).cast("double").alias(n) for n in names]
            )
        if native_distinct_max and all(
            probe[f"ad_{ci}"] <= native_distinct_max * _SKETCH_MARGIN
            for ci in live
        ):
            n_aggs = [
                F.expr(f"percentile({c}, {pfrac})").alias(name)
                for c in cols
                for pfrac, name in specs[c]
            ]
            return df.groupBy(F.col(key)).agg(*n_aggs)
        lows = {ci: probe[f"mn_{ci}"] for ci in live}
        widths = {ci: (probe[f"mx_{ci}"] - lows[ci]) or 1.0 for ci in live}

    # The whole locate/resolve dataflow is generated as SQL text and
    # parsed JVM-side in ~2 spark.sql calls: an equivalent
    # Column-object tower costs >1s of py4j round-trip latency PER
    # CALL at plan-build time — measured slower than both Spark jobs
    # combined at sf0.1 (SURVEY.md §9 item 7; round-6 fix).
    uid = next(_CALL_IDS)
    src_view = f"__pctl_src_{uid}"
    df.createOrReplaceTempView(src_view)
    views = [src_view]
    # try/finally: any failure mid-flow (e.g. a per-level stat
    # collect) must still drop every __pctl_* view — they would
    # otherwise leak into the session catalog for its lifetime
    try:

        def esc(s: str) -> str:
            return s.replace("'", "''")

        def idx_sql(lo_sql: str, w: float) -> str:
            return (
                f"least(greatest(cast(floor((__pv - {lo_sql}) / {w!r}D * "
                f"{float(BUCKETS)!r}D) as int), 0), {BUCKETS - 1})"
            )

        # v: long-form (group, col, value, 3-level bucket path), one
        # skinny branch per column (branches scan in parallel tasks; each
        # branch bakes ITS column's bounds in as literals). Path columns
        # are ints: membership at level L == equality on (b0..bL). Lazy —
        # derived twice (locate pass, resolve pass); two scans beat
        # caching the widened relation. b1/b2 reference b0/b1 as lateral
        # column aliases — one parsed SELECT per branch.
        branches = []
        for ci in live:
            lo0, w0 = lows[ci], widths[ci]
            w1, w2 = w0 / BUCKETS, w0 / BUCKETS / BUCKETS
            lo1 = f"({lo0!r}D + cast(b0 as double) * {w1!r}D)"
            lo2 = f"({lo1} + cast(b1 as double) * {w2!r}D)"
            branches.append(
                f"SELECT `{key}` AS __vk, CAST({ci} AS INT) AS __vci,"
                f" CAST(`{cols[ci]}` AS DOUBLE) AS __pv,"
                f" IF(__pv IS NULL, -1, {idx_sql(repr(lo0) + 'D', w0)}) AS b0,"
                f" IF(__pv IS NULL, -1, {idx_sql(lo1, w1)}) AS b1,"
                f" IF(__pv IS NULL, -1, {idx_sql(lo2, w2)}) AS b2"
                f" FROM {src_view}"
            )
        v_cte = "v AS (" + " UNION ALL ".join(branches) + ")"

        spec_rows = [
            (ci, float(pfrac), name)
            for ci in live
            for pfrac, name in specs[cols[ci]]
        ]
        spec_values = ", ".join(
            f"({ci}, {pfrac!r}D, '{esc(name)}')" for ci, pfrac, name in spec_rows
        )
        # sentinel spec row (name NULL): carries the group universe (for
        # all-NULL groups) through the SAME linear pipeline as the rank
        # targets — one subtree, one scan (a separate distinct() branch
        # would NOT reuse the histogram exchange: column pruning gives the
        # two branches different canonical plans)
        spec_values += f", ({live[0]}, CAST(NULL AS DOUBLE), CAST(NULL AS STRING))"

        # locate, level 0: histogram INCLUDING the NULL bucket (-1) — the
        # one shuffle of v in this pass — then ONE window pass (the NULL
        # bucket rides through, excluded from counts by the positive
        # guard) gives each bucket its running count (cb), its group's
        # total (n), and a row_number; the rank targets fall out of a
        # broadcast join with the tiny spec relation filtered to the
        # bucket whose [cb, cb+cnt) span holds floor/ceil((n-1)*p).
        pos = "IF(b0 >= 0, cnt, 0)"
        over = "OVER (PARTITION BY __vk, __vci ORDER BY b0"
        locate_sql = f"""
    WITH {v_cte},
    hist AS (SELECT __vk, __vci, b0, COUNT(*) AS cnt,
      approx_count_distinct(__pv, {_NDV_RSD}) AS ndv
      FROM v GROUP BY __vk, __vci, b0),
    h3 AS (SELECT __vk, __vci, b0, cnt, ndv,
      SUM({pos}) {over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - {pos} AS cb,
      SUM({pos}) {over} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n,
      ROW_NUMBER() {over}) AS rn1
      FROM hist),
    specs AS (SELECT * FROM VALUES {spec_values} AS s(ci, pfrac, name)),
    j AS (SELECT /*+ BROADCAST(s) */ h.__vk, h.__vci, s.name,
      CAST(h.n - 1 AS DOUBLE) * s.pfrac AS t, h.cnt, h.ndv, h.cb, h.b0, h.rn1
      FROM h3 h JOIN specs s ON h.__vci = s.ci)
    SELECT __vk, __vci, name, t, tg.which AS which, tg.rk - cb AS rib, cnt, ndv, b0
    FROM j
    LATERAL VIEW explode(array(named_struct('which', 0, 'rk', FLOOR(t)),
                               named_struct('which', 1, 'rk', CEIL(t)))) e AS tg
    WHERE (name IS NOT NULL AND b0 >= 0 AND cb <= tg.rk AND tg.rk < cb + cnt)
       OR (name IS NULL AND rn1 = 1 AND tg.which = 0)
    """
        located = spark.sql(locate_sql).localCheckpoint(eager=False)
        checkpoints.append(located)
        loc_view = f"__pctl_loc_{uid}"
        located.createOrReplaceTempView(loc_view)
        views.append(loc_view)
        pending = located.filter(F.col("name").isNotNull())

        v_df = None  # built on demand — only the (rare) refinement path needs it
        resolve_ctes: list[str] = []
        bcast0 = True
        path = ["b0"]
        for level in range(LEVELS):
            # Stat read over the tiny located relation: two scalars decide
            # refinement and broadcast strategy. The checkpoint above is
            # LAZY, so this first action over it is also the job that
            # materializes it (the graph.py convergence-flag idiom) —
            # locating + deciding is ONE job per level, not two.
            stat = pending.agg(F.max("ndv").alias("mx"), F.count("*").alias("cn")).collect()[0]
            bcast = (stat["cn"] or 0) <= _BROADCAST_TARGETS
            if level == 0:
                # one pending row per (group-with-data, spec, floor/ceil):
                # a faithful upper bound on the GROUP count, which is what
                # the final `wide` broadcast must be gated on (a refinement
                # level can shrink pending to a handful of rows while the
                # group count stays in the millions)
                bcast0 = bcast
            last = level == LEVELS - 1
            # gate with the ndv-specific margin: a >3-sigma
            # under-estimate of the rsd-0.15 HLL is needed before a
            # genuinely oversized bucket can skip refinement, and an
            # escape costs only sort-memory headroom, never
            # correctness (over-estimates just refine once more)
            ndv_cap = refine_cap * _NDV_GATE_MARGIN
            done = last or (stat["mx"] or 0) <= ndv_cap
            small = pending if done else pending.filter(F.col("ndv") <= ndv_cap)
            small_view = f"__pctl_small_{level}_{uid}"
            small.createOrReplaceTempView(small_view)
            views.append(small_view)
            resolve_ctes.append(_resolve_ctes(small_view, path, bcast, level))
            if done:
                break

            # refine: one extra pass — sub-histogram only inside the
            # oversized parent buckets (tiny broadcast ``parents``), then
            # re-locate each pending rank within its parent via the
            # cumulative window over the next path column
            if v_df is None:
                v_df = spark.sql(f"WITH {v_cte} SELECT * FROM v")
            bcol = f"b{level + 1}"
            big = pending.filter(F.col("ndv") > ndv_cap).drop("cnt", "ndv")
            parents = big.select("__vk", "__vci", *path).distinct()
            if bcast:
                parents = F.broadcast(parents)
            sub = (
                v_df.alias("v")
                .join(parents.alias("p"), _path_eq(path, "v", "p"))
                .groupBy(*[F.col(f"v.{c}") for c in ("__vk", "__vci", *path, bcol)])
                .agg(
                    F.count("*").alias("cnt"),
                    F.expr(
                        f"approx_count_distinct(v.__pv, {_NDV_RSD})"
                    ).alias("ndv"),
                )
            )
            w2 = Window.partitionBy("__vk", "__vci", *path).orderBy(bcol)
            sub = sub.withColumn(
                "cb",
                F.sum("cnt").over(
                    w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                - F.col("cnt"),
            )
            h = sub.select(
                F.col("__vk").alias("h_vk"),
                F.col("__vci").alias("h_ci"),
                *[F.col(c).alias(f"h_{c}") for c in path],
                F.col(bcol).alias(f"h_{bcol}"),
                "cnt",
                "ndv",
                "cb",
            )
            cond = (
                F.col("__vk").eqNullSafe(F.col("h_vk"))
                & (F.col("__vci") == F.col("h_ci"))
                & (F.col("cb") <= F.col("rib"))
                & (F.col("rib") < F.col("cb") + F.col("cnt"))
            )
            for c in path:
                cond = cond & (F.col(c) == F.col(f"h_{c}"))
            pending = (
                big.join(h, cond)
                .select(
                    "__vk",
                    "__vci",
                    "name",
                    "t",
                    "which",
                    (F.col("rib") - F.col("cb")).alias("rib"),
                    "cnt",
                    "ndv",
                    *path,
                    F.col(f"h_{bcol}").alias(bcol),
                )
            )
            pending = pending.localCheckpoint(eager=False)
            checkpoints.append(pending)
            path = path + [bcol]

        # assemble in ONE final SQL: union the per-level resolved targets,
        # pivot each target's lo/hi value and position per group, then
        # interpolate with Spark Percentile.getPercentile's exact
        # arithmetic — the two-sided weighted form, lower value alone when
        # the position is integral (lo + (hi-lo)*frac is 1 ulp off this on
        # some inputs; caught by the high-cardinality equivalence test).
        # All-NULL groups never produce a rank target; they surface with
        # NULL results via a left join from the checkpointed universe
        # (the sentinel rows of the located relation).
        union_sql = " UNION ALL ".join(
            f"SELECT * FROM resolved_{i}" for i in range(len(resolve_ctes))
        )
        base_cols: list[str] = []
        out_cols: list[str] = []
        for i, n in enumerate(names):
            nq = esc(n)
            base_cols.append(
                f"MAX(CASE WHEN name = '{nq}' AND which = 0 THEN val END) AS lo_{i}"
            )
            base_cols.append(
                f"MAX(CASE WHEN name = '{nq}' AND which = 1 THEN val END) AS hi_{i}"
            )
            base_cols.append(f"MAX(CASE WHEN name = '{nq}' THEN t END) AS t_{i}")
            out_cols.append(
                f"CASE WHEN CAST(FLOOR(t_{i}) AS DOUBLE) = CAST(CEIL(t_{i}) AS DOUBLE)"
                f" THEN lo_{i}"
                f" ELSE (CAST(CEIL(t_{i}) AS DOUBLE) - t_{i}) * lo_{i}"
                f" + (t_{i} - CAST(FLOOR(t_{i}) AS DOUBLE)) * hi_{i} END AS `{n}`"
            )
        resolve_cte_sql = ",\n".join(resolve_ctes)
        base_sql = ", ".join(base_cols)
        out_sql = ", ".join(out_cols)
        name_sql = ", ".join(f"w.`{n}`" for n in names)
        # `wide` is one row per GROUP — its broadcast is gated on the
        # LEVEL-0 pending count (a group-count upper bound), never on the
        # last refinement level's pending count, which can be tiny while
        # the group count is in the millions
        whint = "/*+ BROADCAST(w) */ " if bcast0 else ""
        final_sql = f"""
    WITH {v_cte},
    {resolve_cte_sql},
    resolved AS ({union_sql}),
    widebase AS (SELECT __vk, {base_sql} FROM resolved GROUP BY __vk),
    wide AS (SELECT __vk, {out_sql} FROM widebase),
    universe AS (SELECT __vk FROM {loc_view} WHERE name IS NULL)
    SELECT {whint}u.__vk AS `{key}`, {name_sql}
    FROM universe u LEFT JOIN wide w ON u.__vk <=> w.__vk
    """
        out = spark.sql(final_sql)
    finally:
        for view in views:
            spark.catalog.dropTempView(view)
    out._percentile_checkpoints = checkpoints
    return out


def release(result: DataFrame) -> None:
    """Free the checkpointed storage behind a DataFrame returned by
    ``exact_percentiles_distributed``, once the caller has run its
    final action. No-op on DataFrames from other sources (including
    the native/low-cardinality fast path, which checkpoints nothing).

    localCheckpoint persists the underlying RDD directly — it is NOT
    registered in the CacheManager, so ``Dataset.unpersist`` would be
    a silent no-op (verified against Spark 4: storage info unchanged).
    The blocks are freed by unpersisting the LogicalRDD's rdd itself;
    that reaches through a private plan accessor, so if the internals
    ever drift the fallback is the GC path (ContextCleaner reclaims
    the blocks when the RDD is collected), which is also what happens
    when callers skip release() entirely."""
    for df in getattr(result, "_percentile_checkpoints", ()):
        try:
            # analyzed plan of a localCheckpoint result IS the
            # LogicalRDD holding the persisted RDD
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # plan-shape drift / stopped session:
            pass  # best-effort — ContextCleaner frees it on GC


def _resolve_ctes(small_view: str, path: list[str], bcast: bool, lvl: int) -> str:
    """SQL CTE chunk for exact value lookup inside rank-holding
    buckets whose distinct-value count passed the ndv gate: rows are
    path-joined to the tiny broadcast needed-bucket set, COLLAPSED
    to (value, count) by a map-side-combining groupBy — duplicate
    values never reach the window, so a bucket with millions of
    copies of one value costs one row here (the round-12 fix; the
    former ROW_NUMBER-over-rows form sorted every duplicate through
    one window partition) — then a cumulative window assigns each
    distinct value its row-rank span [cb, cb + c) and a range join
    picks the value whose span holds the target rank rib. Expects a
    CTE named ``v`` in scope; defines ``resolved_{lvl}`` with
    (__vk, name, which, t, val)."""
    pc = ", ".join(path)
    vp = ", ".join(f"v.{c}" for c in ("__vk", "__vci", *path, "__pv"))
    hint = "/*+ BROADCAST(p) */ " if bcast else ""
    shint = "/*+ BROADCAST(s) */ " if bcast else ""
    on_v = " AND ".join(
        ["v.__vk <=> p.__vk", "v.__vci = p.__vci"]
        + [f"v.{c} = p.{c}" for c in path]
    )
    on_r = " AND ".join(
        ["s.__vk <=> r.__vk", "s.__vci = r.__vci"]
        + [f"s.{c} = r.{c}" for c in path]
        + ["s.rib >= r.cb", "s.rib < r.cb + r.c"]
    )
    return f"""need_{lvl} AS (SELECT DISTINCT __vk, __vci, {pc} FROM {small_view}),
rows_{lvl} AS (SELECT {hint}{vp} FROM v JOIN need_{lvl} p ON {on_v}),
vals_{lvl} AS (SELECT __vk, __vci, {pc}, __pv, COUNT(*) AS c
  FROM rows_{lvl} GROUP BY __vk, __vci, {pc}, __pv),
ranked_{lvl} AS (SELECT __vk, __vci, {pc}, __pv, c,
  SUM(c) OVER (PARTITION BY __vk, __vci, {pc} ORDER BY __pv
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cb
  FROM vals_{lvl}),
resolved_{lvl} AS (SELECT {shint}s.__vk, s.name, s.which, s.t, r.__pv AS val
  FROM {small_view} s JOIN ranked_{lvl} r ON {on_r})"""


def grouped_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
) -> DataFrame:
    """Exact interpolated percentiles PER GROUP — the grouped
    companion of exact_percentiles_distributed: one row per group
    with a q_<pct> column per requested quantile.

    Uses Spark's exact `percentile` aggregate (JVM-side, linear
    interpolation — the same definition as DuckDB's quantile_cont,
    so results cross-check to the rounding digit). State per group
    is that group's value list on one executor: the right tool when
    groups are plentiful and individually bounded (per-customer,
    per-day). For ONE giant group, use
    exact_percentiles_distributed, whose state is bounded histograms
    — that trade is the module's whole design note.

    Values are the raw interpolated doubles, never rounded: the
    interpolation is bit-identical to DuckDB's quantile_cont on the
    same doubles (the q_percentiles precedent), while the two
    engines' round() implementations can diverge in the last ulp."""
    if not quantiles or not all(0.0 <= q <= 1.0 for q in quantiles):
        raise ValueError("quantiles must be fractions in [0, 1]")
    aggs = [
        F.expr(f"percentile({value_col}, {q!r})")
        .alias(f"q_{str(q).replace('.', '_')}")
        for q in quantiles
    ]
    return df.groupBy(*group_cols).agg(*aggs)
