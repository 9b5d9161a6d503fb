"""Physical-plan property tests: lock in the plan SHAPES that make
the operators scale, so a regression that silently reintroduces a
bad plan (lost pushdown, lost broadcast, Expand blowup, extra
exchange) fails CI even though results stay correct.

These assert on `.explain`-level artifacts — the same things a human
would check by eye before shipping a plan to a 1000-executor cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import fan_out, read_table
from clinical_data_warehouse_bi_spark.registry import (
    auditable_queries,
    registered_queries,
)


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def generated_code(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )


# rotation-independent: plan locks cover every registered operator
# regardless of which 50 the driver gate samples this round
QUERIES = registered_queries()

# registry-retired in rounds 9-11; their plan contracts stay locked here
from clinical_data_warehouse_bi_spark.queries.core import (  # noqa: E402
    q_agg_per_order,
    q_grouped_percentiles,
)
from clinical_data_warehouse_bi_spark.queries.dedup import (  # noqa: E402
    q_paragraph_dedup,
    q_repeated_spans,
)
from clinical_data_warehouse_bi_spark.queries.join_ops import q_range_join  # noqa: E402
from clinical_data_warehouse_bi_spark.queries.similarity import q_cosine_topk  # noqa: E402
from clinical_data_warehouse_bi_spark.queries.windows import (  # noqa: E402
    q_cohort_retention,
    q_readmission_gap,
    q_resample_fill,
    q_scd2_dim,
)

QUERIES = {
    **QUERIES,
    "q_paragraph_dedup": q_paragraph_dedup,
    "q_range_join": q_range_join,
    "q_agg_per_order": q_agg_per_order,
    "q_cosine_topk": q_cosine_topk,
    "q_scd2_dim": q_scd2_dim,
    "q_cohort_retention": q_cohort_retention,
    "q_resample_fill": q_resample_fill,
    "q_readmission_gap": q_readmission_gap,
    "q_grouped_percentiles": q_grouped_percentiles,
    "q_repeated_spans": q_repeated_spans,
}


def test_keyword_filter_pushdown(spark, sf_dir):
    """P3: the OR-LIKE predicate must reach the parquet scan."""
    from clinical_data_warehouse_bi_spark.queries.core import q_keyword_filter

    plan = physical_plan(q_keyword_filter(spark, sf_dir))
    assert "PushedFilters" in plan
    # column pruning: only the 3 selected columns in ReadSchema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_name" in read_schema and "p_retailprice" not in read_schema


def test_lookup_join_broadcasts(spark, sf_dir):
    """J1: small filtered dim side must be broadcast — a shuffle of
    the fact side for a dim lookup is the classic star-schema
    anti-pattern."""
    plan = physical_plan(QUERIES["q_join_lookup_cast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_orphan_probe_uses_anti_join_broadcast(spark, sf_dir):
    plan = physical_plan(QUERIES["q_qa_orphan_report"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_agg_per_order_has_no_expand(spark, sf_dir):
    """A2 via collect_set: the multi-countDistinct Expand (3x row
    blowup + 2 extra exchanges) must not come back."""
    plan = physical_plan(QUERIES["q_agg_per_order"](spark, sf_dir))
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 2  # the keyed fan_out repartition


def test_pricing_summary_single_wide_exchange(spark, sf_dir):
    """Two-phase pricing agg: exactly one full-data exchange (the
    keyed fan_out); phase-2's exchange moves only pre-aggregated
    partials."""
    plan = physical_plan(QUERIES["q_pricing_summary"](spark, sf_dir))
    assert "Expand" not in plan


def test_fan_out_noop_when_well_split(spark, sf_dir):
    """fan_out must be an exact no-op when the scan already has
    enough splits — at 100 TB it must never add a shuffle."""
    df = read_table(spark, sf_dir, "lineitem").repartition(64)
    assert fan_out(df) is df


def test_doc_pipeline_aggregates_in_place(spark, sf_dir):
    """Keyed fan_out on doc_id: the simhash groupBy must reuse the
    repartition exchange (exactly one exchange in the whole plan).
    Cache cleared first: a prior q_simhash_pairs run persists the
    fingerprint relation, which would collapse this plan to an
    InMemoryTableScan and hide the shape under test."""
    spark.catalog.clearCache()
    from clinical_data_warehouse_bi_spark.queries.dedup import (
        _simhash_fingerprints,
    )

    docs = read_table(spark, sf_dir, "documents")
    plan = physical_plan(_simhash_fingerprints(docs))
    assert plan.count("Exchange hashpartitioning") == 1


def test_interval_join_is_not_nested_loop(spark, sf_dir):
    """J5/J6: the BETWEEN must ride on an equi join (hash/broadcast),
    never a cartesian / broadcast-nested-loop join."""
    plan = physical_plan(QUERIES["q_asof_next_order"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_asof_join_is_not_nested_loop(spark, sf_dir):
    """The AS-OF lookup's half-open validity predicate must ride on
    the customer_id EQUI join as a post-filter — a hash or sort-merge
    join keyed on the dimension's natural key, never a cartesian /
    nested-loop plan (the VERDICT r5 acceptance bar for the SCD2
    consumption query)."""
    plan = physical_plan(QUERIES["q_scd2_asof"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_prunes_columns(spark, sf_dir):
    """S1: a 2-column projection must not read all 16 lineitem
    columns."""
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_tax")
    plan = physical_plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_semi_join_for_integrity_cleanup(spark, sf_dir):
    """J10: orphan cleanup must plan a semi join (never materialize
    dim columns onto the fact). Imported directly: q_semi_valid_fact
    retired from the registry in round 8 (full oracle lives in
    test_retired_parity.py); the plan shape stays locked here."""
    from clinical_data_warehouse_bi_spark.queries.join_ops import (
        q_semi_valid_fact,
    )

    plan = physical_plan(q_semi_valid_fact(spark, sf_dir))
    assert "LeftSemi" in plan


def test_range_join_auto_bin_no_nested_loop(spark, sf_dir):
    """The no-equi-key range join must stay a hash join on bin ids
    with the self-tuned (median-interval) bin width — a regression to
    BroadcastNestedLoopJoin is the O(|L| x |R|) disaster."""
    plan = physical_plan(QUERIES["q_range_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_auto_bin_matches_explicit(spark, sf_dir):
    """Bin width is a pure physical knob: auto-tuned and arbitrary
    explicit widths must give the identical result multiset."""
    from clinical_data_warehouse_bi_spark.joins import range_join_binned

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.unix_timestamp("l_shipdate").alias("p")
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 50)
        .select(
            F.col("o_orderkey").alias("win"),
            F.unix_timestamp("o_orderdate").alias("lo"),
            (F.unix_timestamp("o_orderdate") + 3 * 86400).alias("hi"),
        )
    )
    auto = range_join_binned(li, orders, "p", "lo", "hi").select(
        "l_orderkey", "l_linenumber", "win"
    )
    explicit = range_join_binned(li, orders, "p", "lo", "hi", bin_width=99999).select(
        "l_orderkey", "l_linenumber", "win"
    )
    assert auto.exceptAll(explicit).count() == 0
    assert explicit.exceptAll(auto).count() == 0


@pytest.fixture(scope="module")
def stage(spark):
    """One build_staging of the clinical fixtures, read by every star
    plan test here."""
    from clinical_data_warehouse_bi_spark import star
    from tests.clinical_fixtures import make_sources

    return star.build_staging(make_sources(spark))


def test_star_fact_scale_keys_avoid_single_partition(stage):
    """W2 at scale: the staging build must not funnel the fact,
    dim_provider or dim_concepts through a single-partition window;
    only the junk dim's bounded row_number may (its combos are few by
    construction). All three read from one build."""
    assert physical_plan(stage["fact_disorder_events"]).count("Exchange SinglePartition") <= 1
    # the fact plan is checkpoint-truncated, so assert on the two
    # key-built dims too, where the full lineage is visible:
    # dim_provider is the event-scale dim, and dim_concepts is
    # bounded today but vocabularies grow
    assert physical_plan(stage["dim_provider"]).count("Exchange SinglePartition") == 0
    assert physical_plan(stage["dim_concepts"]).count("Exchange SinglePartition") == 0


def test_case_mapping_never_calls_icu(spark, stage):
    """get_spark maps case through the JVM, not ICU: ICU's first
    lower() in a JVM builds a title-case table (CollationAwareUTF8String's
    static init) while every other task waits on it. Every lower() /
    upper() the engine generates must compile to the JVM form: the
    star's keyword filter (omr_filtered; dim_concepts and the fact
    scan checkpoints, so their plans hide theirs), normalized_key, the
    tokenizer and normalized_text. The fixture rows are local
    relations, into which the optimizer folds filters and projections
    (evaluated on the driver, with no generated code); with that rule
    off they compile as over a real scan."""
    from clinical_data_warehouse_bi_spark.cleanse import keyword_filter, normalized_key
    from clinical_data_warehouse_bi_spark.io import local_frame
    from clinical_data_warehouse_bi_spark.text import normalized_text, tokens

    probe = local_frame(spark, [("Sodium \u03a3",)], "s string").select(
        keyword_filter("s", ["sodium"]).alias("kw"),
        normalized_key("s").alias("key"),
        tokens("s").alias("toks"),
        normalized_text("s").alias("norm"),
        F.upper("s").alias("up"),
    )
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
    )
    try:
        # select("*"): a fresh plan, optimized under the conf above
        codes = [generated_code(df.select("*")) for df in (stage["omr_filtered"], probe)]
    finally:
        spark.conf.unset("spark.sql.optimizer.excludedRules")
    for code in codes:
        assert "CollationSupport.Lower.execBinary" in code
        assert "execBinaryICU" not in code
        assert "CollationAwareUTF8String" not in code
    assert "CollationSupport.Upper.execBinary" in codes[1]


def test_interval_join_windows_reuse_join_exchange(spark):
    """J5/J6 dedup: the pick-first windows partition by the interval
    join's own equi keys (+ a unique row id), so two CHAINED interval
    joins (the star pipeline's careunit + provider enrichment shape)
    share ONE fact-side exchange — and Spark plans the rank<=1 filter
    as a map-side WindowGroupLimit. (Asserted on a standalone chain:
    the staging fact plan itself is checkpoint-truncated.) Broadcast
    joins are off: the fixture sources are local relations whose
    exact size would broadcast the transfers side, which at event
    scale is a shuffle join."""
    import re

    from clinical_data_warehouse_bi_spark.joins import interval_join_pick_first
    from tests.clinical_fixtures import make_sources

    src = make_sources(spark)
    left = src["labevents"].select(
        F.col("subject_id").alias("patient_id"),
        F.col("hadm_id").alias("admission_id"),
        F.col("charttime").alias("ts"),
        F.monotonically_increasing_id().alias("rid"),
    )
    tr1 = src["transfers"].select(
        F.col("subject_id").alias("t_subject"), F.col("hadm_id").alias("t_hadm"),
        F.col("careunit").alias("t_careunit"),
        F.col("intime").alias("t_intime"), F.col("outtime").alias("t_outtime"),
    )
    tr2 = src["transfers"].select(
        F.col("subject_id").alias("p_subject"), F.col("hadm_id").alias("p_hadm"),
        F.col("intime").alias("p_intime"), F.col("outtime").alias("p_outtime"),
    )
    step1 = interval_join_pick_first(
        left, tr1,
        equi=(F.col("patient_id") == F.col("t_subject"))
        & (F.col("admission_id") == F.col("t_hadm")),
        ts_col=F.col("ts"), lo_col=F.col("t_intime"), hi_col=F.col("t_outtime"),
        left_key=["patient_id", "admission_id", "rid"],
        order=[F.col("t_intime").asc_nulls_last()],
    ).drop("t_subject", "t_hadm", "t_intime", "t_outtime")
    step2 = interval_join_pick_first(
        step1, tr2,
        equi=(F.col("patient_id") == F.col("p_subject"))
        & (F.col("admission_id") == F.col("p_hadm")),
        ts_col=F.col("ts"), lo_col=F.col("p_intime"), hi_col=F.col("p_outtime"),
        left_key=["patient_id", "admission_id", "rid"],
        order=[F.col("p_intime").asc_nulls_last()],
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(step2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    n_fact_exchanges = len(re.findall(r"Exchange hashpartitioning\(patient_id", plan))
    n_windows = plan.count("WindowGroupLimit [patient_id")
    assert n_windows == 2
    # both pick-first windows ride the single fact-side exchange
    assert n_fact_exchanges == 1


def test_cosine_topk_never_joins_the_vector_table(spark, sf_dir):
    """The GEMM top-k path must not plan a cross/nested-loop join of
    the vector table — queries ride inside the mapInPandas closure,
    so the only join-free exchange left is the tiny partial-top-k
    window."""
    plan = physical_plan(QUERIES["q_cosine_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # scoring happens in the Arrow stage


def test_ann_ivf_nprobe_no_cartesian(spark, sf_dir):
    """IVF assignment is a broadcast-matrix GEMM, not a centroid
    crossJoin: no cartesian/nested-loop operator anywhere, candidate
    scoring in an Arrow stage, bucket join as a hash join."""
    from clinical_data_warehouse_bi_spark.queries.similarity import (
        q_ann_ivf_nprobe,
    )

    plan = physical_plan(q_ann_ivf_nprobe(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan


def test_sign_lsh_band_join_is_hash_join(spark, sf_dir):
    """q_embed_near_dup's candidate stage must stay a hash equi-join
    on (band, sig) — a nested-loop there is the all-pairs collapse
    the banding exists to avoid."""
    plan = physical_plan(QUERIES["q_embed_near_dup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_exchange(spark, sf_dir):
    """q_scd2_dim's lag pass, change filter, and lead pass must share
    ONE shuffle on the dimension key — a second exchange would mean
    the windows lost their common partitioning."""
    plan = physical_plan(QUERIES["q_scd2_dim"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pack_sequences_no_global_window(spark, sf_dir):
    """q_pack_sequences packs PER SHARD: the running-offset window
    must be hash-partitioned, never the single-partition global
    window a naive global pack would plan."""
    plan = physical_plan(QUERIES["q_pack_sequences"](spark, sf_dir))
    assert "Exchange hashpartitioning(shard" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def _exchange_blocks(df) -> list[str]:
    """Per-node detail blocks of the formatted explain for every
    Exchange operator (each block carries its Input column list)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    s = df._jdf.queryExecution().explainString(mode)
    return [
        b
        for b in s.split("\n\n")
        if b.startswith("(") and "Exchange" in b.splitlines()[0]
    ]


def test_chunk_dedup_text_never_shuffles(spark, sf_dir):
    """q_chunk_dedup's whole point at 100 TB: document text is reduced
    to (id, pos, hash, hash) BEFORE any KEYED exchange — no
    hash/range/single-partition exchange may carry the text or
    token-array column. (fan_out's RoundRobin repartition is exempt:
    it exists to parallelize the tokenizer on a one-row-group local
    scan and is a proven no-op on real multi-split scans —
    test_fan_out_noop_when_well_split.)"""
    from clinical_data_warehouse_bi_spark.queries.dedup import q_chunk_dedup

    blocks = [
        b
        for b in _exchange_blocks(q_chunk_dedup(spark, sf_dir))
        if "RoundRobinPartitioning" not in b
    ]
    assert blocks, "expected at least one keyed exchange (keep-first window)"
    for b in blocks:
        assert "text#" not in b, b
        assert " w#" not in b and "[w#" not in b, b
        assert "__units#" not in b, b


def test_fuzzy_match_is_blocked_equi_join(spark, sf_dir):
    """The fuzzy self-join must hash/broadcast on the blocking keys —
    a nested-loop/cartesian plan means blocking fell out and every
    pair gets a levenshtein, the O(n^2) collapse."""
    plan = physical_plan(QUERIES["q_fuzzy_match"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_probe_is_take_ordered(spark, sf_dir):
    """O1: ORDER BY + LIMIT must plan as TakeOrderedAndProject
    (per-partition top-k + k-row merge), never a global sort — the
    plan witness for the registry-retired q_dup_probe."""
    from clinical_data_warehouse_bi_spark.queries.core import q_dup_probe

    plan = physical_plan(q_dup_probe(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_lm_perplexity_broadcasts_model_one_doc_exchange(spark, sf_dir):
    """The LM scoring pass must broadcast the vocabulary-sized count
    relations (no shuffle of the corpus-sized bigram stream onto
    word keys) and pay exchanges only for the model's own counting
    and the per-document mean."""
    from clinical_data_warehouse_bi_spark.queries.hygiene import (
        q_lm_perplexity,
    )

    plan = physical_plan(q_lm_perplexity(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the doc-side bigram stream must never hash-partition on words:
    # every exchange keys on the doc id or on model count keys
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^#,]+)[#,]", plan):
        key = m.group(1)
        # doc_id is the round-16 keyed fan_out (the rebalance exchange
        # the per-document mean now rides) — still a doc-key exchange
        assert key in ("__id", "doc_id") or key.startswith("w"), (
            key, plan[:2000],
        )


def test_quota_sample_uses_window_group_limit(spark, sf_dir):
    """The rank<=n quota predicate must compile to WindowGroupLimit
    so a hot domain pre-prunes to n rows per map task BEFORE the
    group-key exchange (the skew story of text.quota_sample)."""
    from clinical_data_warehouse_bi_spark import text as T

    docs = read_table(spark, sf_dir, "documents")
    plan = physical_plan(T.quota_sample(docs, "source", 10))
    assert "WindowGroupLimit" in plan
    # partial mode runs before the exchange
    pre_exchange = plan.split("Exchange hashpartitioning")[1]
    assert "WindowGroupLimit" in pre_exchange, plan[:1500]


def test_paragraph_dedup_text_never_shuffles(spark, sf_dir):
    """q_paragraph_dedup shares q_chunk_dedup's scale contract: unit
    text reduces to (id, pos, h1, h2) before any KEYED exchange —
    no hash/range exchange may carry the text or the split-unit
    array __units (RoundRobin fan_out exempt, as in the chunk
    test)."""
    blocks = [
        b
        for b in _exchange_blocks(QUERIES["q_paragraph_dedup"](spark, sf_dir))
        if "RoundRobinPartitioning" not in b
    ]
    assert blocks, "expected at least one keyed exchange (keep-first window)"
    for b in blocks:
        assert "text#" not in b, b
        assert "__units#" not in b, b


def test_cohort_retention_plan_shape(spark, sf_dir):
    """All exchanges key on the user id or the (tiny) matrix key —
    no Expand (single-DISTINCT aggregation), no cartesian, and the
    events relation never shuffles on anything else."""
    import re

    plan = physical_plan(QUERIES["q_cohort_retention"](spark, sf_dir))
    assert "Expand" not in plan and "CartesianProduct" not in plan
    keys = set(re.findall(r"Exchange hashpartitioning\(([^#,]+)[#,]", plan))
    assert keys <= {"user_id", "__cohort"}, keys


def test_resample_fill_plan_shape(spark, sf_dir):
    """The per-key grid must be generated map-side from each key's
    own span: every exchange keys on the series key (no
    global-calendar cartesian, no range exchange of the grid)."""
    import re

    plan = physical_plan(QUERIES["q_resample_fill"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = set(re.findall(r"Exchange hashpartitioning\(([^#,]+)[#,]", plan))
    assert keys == {"__k"}, keys


def test_weighted_sample_is_takeordered_no_exchange(spark, sf_dir):
    """q_weighted_sample: the A-ES priority top-k must compile to one
    TakeOrderedAndProject over the scan — no shuffle, no global sort
    (the layout-independence claim is only true if selection never
    depends on a partitioning)."""
    plan = physical_plan(QUERIES["q_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan[:1200]


def test_hybrid_topk_no_heavy_exchange(spark, sf_dir):
    """q_hybrid_topk: document text and embedding arrays must never
    enter a keyed exchange — the BM25 leg scores shuffle-free, the
    dense leg is a map-side fold + TakeOrdered, and only the two
    bounded top-k lists meet in the fusion groupBy."""
    plan = physical_plan(QUERIES["q_hybrid_topk"](spark, sf_dir))
    for seg in plan.split("Exchange")[1:]:
        head = seg.split("\n", 1)[0]
        assert "text#" not in head and "embedding#" not in head, head
    assert "CartesianProduct" not in plan


def test_expectations_scans_each_table_once_plus_anti(spark, sf_dir):
    """The expectation compiler assembles ONE wide scalar row via
    1-row crossJoins instead of a per-check union: each fact table
    is scanned once for ALL its scalar checks (unique + row flags +
    count(*)/count(DISTINCT key) cross-sum sides) plus once per
    broadcast-anti referential probe — the union form paid a full
    scan per check (4 lineitem scans before the round-10 rewrite)."""
    import re

    plan = physical_plan(QUERIES["q_expectations"](spark, sf_dir))
    # lineitem: wide aggregate + its referential anti-join probe
    assert len(re.findall(r"FileScan parquet .*lineitem", plan)) == 2, plan
    # orders: wide aggregate + its own anti probe + the broadcast
    # build for lineitem's referential check
    assert len(re.findall(r"FileScan parquet .*orders", plan)) == 3, plan
    assert "Expand" not in plan  # single-DISTINCT aggregates only


def test_attribution_both_single_exchange_single_scan(spark, sf_dir):
    """q_attribution: min and max over the SAME WindowSpec must plan
    one Window pass over one user-keyed exchange and ONE events scan
    — the two-model fusion's whole point (a union of two single-model
    passes paid 2 scans + 2 exchanges)."""
    import re

    plan = physical_plan(QUERIES["q_attribution"](spark, sf_dir))
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan[:1500]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "Join" not in plan


def test_size_gated_vocab_broadcast_flips(spark, sf_dir):
    """Round-12 verdict item 6: the vocabulary joins in
    text.tfidf_keywords and lm.perplexity must BROADCAST below the
    size gate and flip to a keyed SHUFFLE join above it — the
    fallback their docstrings promised, now asserted in the plan.
    A threshold of 0 forces the big-vocab path on test data."""
    from clinical_data_warehouse_bi_spark import lm
    from clinical_data_warehouse_bi_spark.io import load_tables
    from clinical_data_warehouse_bi_spark.text import tfidf_keywords

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]

    small = physical_plan(tfidf_keywords(docs, k=3))
    assert "BroadcastHashJoin" in small, small[:1500]

    big = physical_plan(
        tfidf_keywords(docs, k=3, vocab_broadcast_max_rows=0)
    )
    # the idf-onto-tf join is no longer broadcast: it becomes a
    # term-keyed shuffle-hash join (the 1-row n_docs crossJoin is
    # still a broadcast nested loop — that is not this join)
    assert "ShuffledHashJoin [term" in big, big[:2000]
    assert "BroadcastHashJoin [term" not in big, big[:2000]

    small_lm = physical_plan(lm.perplexity(docs))
    assert small_lm.count("BroadcastHashJoin") >= 2, small_lm[:1500]

    big_lm = physical_plan(
        lm.perplexity(docs, model_broadcast_max_rows=0)
    )
    assert "BroadcastHashJoin" not in big_lm, big_lm[:2000]
    assert big_lm.count("ShuffledHashJoin") >= 2, big_lm[:2000]


def test_repeat_upsample_is_exchange_free(spark, sf_dir):
    """q_repeat_upsample: the fan-out is a per-row CASE + generated-
    sequence explode — NO exchange of any kind, no window, and the
    scan reads only (doc_id, source)."""
    from clinical_data_warehouse_bi_spark.queries.text_ops import (
        q_repeat_upsample,
    )

    plan = (
        q_repeat_upsample(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "text" not in plan.split("ReadSchema")[-1][:200]


def test_epoch_shuffle_has_no_single_partition_exchange(spark, sf_dir):
    """q_epoch_shuffle: dense global positions WITHOUT a global
    window — the plan carries the range repartition (the documented
    exchange) but never an Exchange SinglePartition and never a
    Window operator (zip_index_key's offset-cumsum replaces
    ROW_NUMBER() OVER ())."""
    from clinical_data_warehouse_bi_spark.queries.text_ops import (
        q_epoch_shuffle,
    )

    plan = (
        q_epoch_shuffle(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    # the only exchange is the tiny per-partition-stats broadcast
    # (the range repartition lives upstream of zip_index_key's
    # checkpoint barrier, outside this plan by construction)
    import re

    exchanges = re.findall(r"\w*Exchange\w*", plan)
    assert all(e == "BroadcastExchange" for e in exchanges), exchanges


def test_zip_index_key_offsets_are_a_local_relation(spark):
    """zip_index_key's only RDD scan is its own localCheckpoint: the
    per-partition offsets it broadcast-joins are a LocalRelation, not
    a Python RDD every plan over the keyed relation would re-run in
    Python workers."""
    from clinical_data_warehouse_bi_spark.keys import zip_index_key

    keyed = zip_index_key(spark.range(100).repartition(3), "k")
    plan = keyed._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.size())]
    rdd_leaves = [lf for lf in leaves if lf.nodeName() == "LogicalRDD"]
    assert len(rdd_leaves) == 1, plan.toString()
    lineage = rdd_leaves[0].rdd().toDebugString()
    assert "LocalCheckpointRDD" in lineage and "PythonRDD" not in lineage, lineage
    assert any(lf.nodeName() == "LocalRelation" for lf in leaves), plan.toString()


def test_no_registered_query_retokenizes_inside_a_lambda(
    spark, sf_dir, monkeypatch
):
    """Spark shares no subexpression inside a higher-order function,
    so a tokenizer (or digest) over a whole document placed in a
    lambda re-runs per element — text.word_shingles over an inline
    tokens() expression was O(tokens^2) regex work per doc. Every
    auditable plan (registered queries and retirees alike) must read
    a token column bound before the lambda.
    Plans materialized while a query is built (q_dedup_clusters ends
    in localCheckpoints, so its final plan never shows the shingles)
    are checked too, as each cache/persist/checkpoint call sees them."""
    from scripts.plan_audit import lambda_recomputes

    from clinical_data_warehouse_bi_spark.io import (
        release_new_persistent_rdds,
        snapshot_persistent_rdds,
    )

    frame_cls = type(spark.range(1))
    materialized: list[tuple[str, int]] = []
    audited_frames = []
    for meth in ("localCheckpoint", "checkpoint", "cache", "persist"):
        def audited(self, *args, _orig=getattr(frame_cls, meth), _meth=meth,
                    **kwargs):
            materialized.append((_meth, lambda_recomputes(self)))
            audited_frames.append(self)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(frame_cls, meth, audited)

    baseline = snapshot_persistent_rdds(spark)
    found = {}
    try:
        for name, fn in sorted(auditable_queries().items()):
            materialized.clear()
            n = lambda_recomputes(fn(spark, sf_dir))
            n += sum(c for _, c in materialized)
            if n:
                found[name] = (n, list(materialized))
    finally:
        for df in audited_frames:
            df.unpersist()
        release_new_persistent_rdds(spark, baseline)
    assert found == {}, found
