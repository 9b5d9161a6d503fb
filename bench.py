"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: per query, one warm-up execution (codegen + file-footer
caches) then timed executions to a noop sink (full computation, no
driver-side result materialization skew), each after the session's
cached relations and checkpoints are dropped, so no run reads what an
earlier one cached. `value` is the sum of timed seconds across queries.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: the scale BENCH_LOCAL.json records; runs at any other scale leave it
#: alone
BASELINE_SF = 0.1

#: headline set: every operator family, weighted toward the ones that
#: matter at scale (joins, aggs, dedup, similarity). The bounded
#: all-pairs ground-truth query (q_ngram_jaccard) is excluded: its
#: role is verification, not throughput.
BENCH_QUERIES = [
    "q_agg_per_order",
    "q_approx_stats",
    "q_pricing_summary",
    "q_pricing_approx",
    "q_json_extract",
    "q_percentiles",
    "q_rollup",
    "q_calendar_dim",
    "q_multi_source_union",
    "q_join_lookup_cast",
    "q_asof_next_order",
    "q_range_join",
    "q_join_nullsafe_junk",
    "q_anti_new_dates",
    "q_orphan_cleanup",
    "q_qa_orphan_report",
    "q_expectations",
    "q_bm25_topk",
    "q_lm_perplexity",
    "q_sessionize",
    "q_resample_fill",
    "q_funnel_steps",
    "q_pack_sequences",
    "q_dedup_clusters",
    "q_stream_dedup_dual",
    "q_minhash_lsh_pairs",
    "q_lsh_near_dup",
    "q_simhash_pairs",
    "q_cdc_chunk_dedup",
    "q_substring_dedup",
    "q_decontaminate_exact",
    "q_paragraph_dedup",
    "q_fuzzy_match",
    "q_token_budget",
    "q_bpe_encode",
    "q_quality_score",
    "q_corpus_clean",
    "q_quota_sample",
    "q_scd2_dim",
    "q_scd2_asof",
    "q_cosine_topk",
    "q_ann_ivf_learned",
    "q_ann_ivf_pq",
    "q_repetition_filter",
    "q_contamination",
    "q_cohort_retention",
    "q_embed_near_dup",
    "q_multimodal_features",
    "q_frame_sample",
    "q_weighted_sample",
    "q_boilerplate",
    "q_hybrid_topk",
    "q_bm25_served",
    "q_repeated_spans",
    "q_pivot_report",
    "q_top_ngrams",
    "q_grouped_percentiles",
    "q_readmission_gap",
    "q_daily_census",
    "q_rolling_aggregate",
    "q_dp_release",
    "q_ann_ivf_pq_served",
    "q_split_assign",
    "q_vocabulary_divergence",
    "q_outlier_report",
    "q_attribution",
    "q_benford",
    "q_skew_report",
    "q_freshness_report",
    "q_tfidf_keywords",
    "q_snapshot_diff",
    "q_ann_hnsw",
    "q_ann_hnsw_routed",
    # round-15 additions
    "q_epoch_shuffle",
    "q_repeat_upsample",
]


class Setup(NamedTuple):
    """A bench composition after its untimed warm-up: ``run`` is one
    timed execution, ``after`` runs untimed after each, ``anchors``
    are the warm-up's sanity counts and ``sources`` the input frames
    the run reads, when it reads driver-built rows."""

    run: Callable[[], object]
    anchors: dict
    after: Callable[[], None] | None = None
    sources: dict | None = None


def _best_of_2(setup: Setup) -> float:
    """Best wall time of two timed ``run()`` calls, rounded to 4
    decimals: the pipeline benches' timing protocol, after the
    setup's own warm-up run."""
    best = None
    for _ in range(2):
        t0 = time.time()
        setup.run()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
        if setup.after is not None:
            setup.after()
    return round(best, 4)


def star_setup(spark, sf: float) -> Setup:
    """The reference's whole artifact: the 3-layer clinical star
    pipeline (staging -> DWH -> pre-agg) on the deterministic
    MIMIC-shaped fixtures, scaled by sf. Sources are cached first so
    the timing isolates the pipeline's own plan-build + compute (in
    production the sources are tables on disk, not driver-generated
    rows). Sanity anchors: both fact layers non-empty, the DWH fact
    no larger than staging (orphan cleanup only removes), and the
    pre-agg has one row per admission."""
    from clinical_data_warehouse_bi_spark import star
    from clinical_data_warehouse_bi_spark.fixtures import make_sources
    from clinical_data_warehouse_bi_spark.io import (
        release_new_persistent_rdds,
        snapshot_persistent_rdds,
    )

    n_patients = max(120, int(12000 * sf))
    src = make_sources(spark, n_patients=n_patients)
    for df in src.values():
        df.cache().count()
    # every pipeline run leaves ~5 localCheckpoint RDDs pinned in
    # executor storage that clearCache cannot reach; released between
    # runs they are harmless, accumulated they degrade run 3+ by 2x
    # (measured 14 -> 22 s)
    rdd_baseline = snapshot_persistent_rdds(spark)

    def run():
        out = star.run_pipeline(src)
        out["dwh"]["fact_disorder_events"].write.format("noop").mode(
            "overwrite"
        ).save()
        out["dwh"]["agg_disorders_per_admission"].write.format("noop").mode(
            "overwrite"
        ).save()
        return out

    out = run()  # warm-up + anchor material
    anchors = {
        "stage_fact": out["stage"]["fact_disorder_events"].count(),
        "dwh_fact": out["dwh"]["fact_disorder_events"].count(),
        "agg_rows": out["dwh"]["agg_disorders_per_admission"].count(),
        "admissions": out["dwh"]["fact_disorder_events"]
        .select("admission_id").distinct().count(),
    }
    assert 0 < anchors["dwh_fact"] <= anchors["stage_fact"], anchors
    assert anchors["agg_rows"] == anchors["admissions"], anchors
    print(
        f"pipeline_star anchor: patients={n_patients}"
        f" stage_fact={anchors['stage_fact']} dwh_fact={anchors['dwh_fact']}"
        f" agg_rows={anchors['agg_rows']}",
        file=sys.stderr,
    )

    def after():
        release_new_persistent_rdds(spark, rdd_baseline)

    after()
    return Setup(run, anchors, after, src)


def bench_pipeline(spark, sf: float) -> float:
    """Wall-clock of ``star_setup``'s pipeline, best of 2."""
    setup = star_setup(spark, sf)
    best = _best_of_2(setup)
    for df in setup.sources.values():
        df.unpersist()
    return best


def bench_corpus(spark, sf_dir: str) -> float:
    """Wall-clock of the LLM-corpus flagship composition (the
    pipeline_star twin the round-11 verdict asked to put under a
    recorded band): documents -> per-source boilerplate removal ->
    quality gate + exact dedup -> temperature-weighted mixing to a
    60% budget -> RAG chunking -> sharded parquet release with
    manifest -> consumer-side verification. Mirrors
    tests/test_corpus_pipeline.py::test_release_packaging_pipeline
    plus the clean/dedup/quality stages named in SURVEY.md's
    LLM-pipeline inventory.

    Scale shapes under test: boilerplate lines leave the scan as
    hash pairs (text never shuffles in the clean), the dedup window
    runs over a SLIM (fingerprint, doc_id) relation with winners
    joined back by doc_id (text shuffles once, keyed by the uniform
    doc id — never by the skew-prone fingerprint), the mix sizes all
    sources in ONE aggregation (temperature_mix_keyed), chunking is
    pure per-row array exprs, and the release write is a real disk
    sink + footer-audited manifest."""
    import shutil
    import tempfile

    from clinical_data_warehouse_bi_spark.corpus import build_corpus_release
    from clinical_data_warehouse_bi_spark.io import (
        read_table,
        release_new_persistent_rdds,
        snapshot_persistent_rdds,
        verify_dataset_manifest,
        write_dataset_manifest,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    rdd_baseline = snapshot_persistent_rdds(spark)

    def run() -> dict:
        out_dir = tempfile.mkdtemp(prefix="bench-corpus-")
        try:
            # the stage chain lives in corpus.build_corpus_release
            # (round-14 verdict item 4 lifted it out of this file);
            # the default arguments reproduce the recorded
            # pipeline_corpus composition exactly
            r = build_corpus_release(spark, docs)
            r["chunks"].repartition(8).write.parquet(
                out_dir, mode="overwrite"
            )
            man = write_dataset_manifest(
                spark, out_dir, extra={"alpha": 0.7, "chunk_tokens": 64}
            )
            ok = verify_dataset_manifest(spark, out_dir)["ok"]
            return {
                "n_release": r["n_release"],
                "rows": man["total_rows"],
                "ok": ok,
            }
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            release_new_persistent_rdds(spark, rdd_baseline)

    anchor = run()  # warm-up + sanity anchors
    assert anchor["ok"] and anchor["rows"] > 0 and anchor["n_release"] > 0, anchor
    print(
        f"pipeline_corpus anchor: release_docs={anchor['n_release']}"
        f" chunks={anchor['rows']} verified={anchor['ok']}",
        file=sys.stderr,
    )
    return _best_of_2(Setup(run, anchor))


def corpus_full_setup(spark, sf_dir: str) -> Setup:
    """pipeline_corpus with the round-14 dedup additions enabled:
    the same release composition plus exact-substring dedup
    (keep-one-copy) and persisted-index decontamination against a
    held-out reference slice — the full public-canon dedup ladder
    end-to-end (round-14 verdict item 4). The reference digest index
    builds ONCE per corpus outside the timed loop (a training org
    maintains it across releases; per-release cost is the probe,
    which is what this times), cached through io.cached_index. The
    warm-up run's anchors carry the released doc_id list."""
    import shutil
    import tempfile

    from clinical_data_warehouse_bi_spark.corpus import build_corpus_release
    from clinical_data_warehouse_bi_spark.io import (
        cached_index,
        read_table,
        release_new_persistent_rdds,
        snapshot_persistent_rdds,
    )
    from clinical_data_warehouse_bi_spark.suffix import (
        SUFFIX_INDEX_FORMAT_VERSION,
        SUFFIX_INDEX_META,
        build_suffix_index,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # held-out "eval" slice as the reference corpus: 2% of docs
    ref = docs.filter("doc_id % 50 = 0")
    corpus_docs = docs.filter("doc_id % 50 != 0")
    idx = cached_index(
        sf_dir,
        "documents",
        f"suffix_v{SUFFIX_INDEX_FORMAT_VERSION}_L12_b64_ref50",
        SUFFIX_INDEX_META,
        lambda d: build_suffix_index(ref, d, min_tokens=12, n_buckets=64),
    )
    rdd_baseline = snapshot_persistent_rdds(spark)

    def run(ids: bool = False) -> dict:
        out_dir = tempfile.mkdtemp(prefix="bench-corpus-full-")
        try:
            r = build_corpus_release(
                spark,
                corpus_docs,
                decontaminate_index=idx,
                substring_dedup=True,
            )
            r["chunks"].repartition(8).write.parquet(
                out_dir, mode="overwrite"
            )
            out = {"n_release": r["n_release"]}
            if ids:
                out["doc_ids"] = sorted(
                    row[0] for row in r["release"].select("doc_id").collect()
                )
            return out
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            release_new_persistent_rdds(spark, rdd_baseline)

    anchor = run(ids=True)
    assert anchor["n_release"] > 0, anchor
    print(
        f"pipeline_corpus_full anchor: release_docs={anchor['n_release']}",
        file=sys.stderr,
    )
    return Setup(run, anchor)


def bench_corpus_full(spark, sf_dir: str) -> float:
    """Wall-clock of ``corpus_full_setup``'s release, best of 2."""
    return _best_of_2(corpus_full_setup(spark, sf_dir))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    from clinical_data_warehouse_bi_spark.io import (
        release_new_persistent_rdds,
        snapshot_persistent_rdds,
    )
    from clinical_data_warehouse_bi_spark.registry import auditable_queries
    from clinical_data_warehouse_bi_spark.session import get_spark

    spark = get_spark("bench")
    # registry-retired operators stay in the bench for historical
    # comparability: auditable_queries() resolves every retiree
    queries = auditable_queries()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    load_start = os.getloadavg()
    # Every query run starts from an empty cache. Spark's CacheManager
    # matches a fresh DataFrame whose plan equals a cached one, so a
    # library .cache()/.persist() left by the warm-up (or by the first
    # timed run) would be READ by the next run instead of recomputed —
    # text.band_join's cached band signatures were, timing q_dedup_clusters
    # at a third of its cost. localCheckpoint blocks are not
    # CacheManager-registered, so clearCache never frees them; queries
    # that checkpoint (percentiles, dedup_clusters, similarity index
    # builds) leak executor storage across the session otherwise — the
    # round-7 q_ann_ivf_learned 0.85->3.81 s "regression" mechanism.
    # Snapshot once, release everything newer before each run.
    rdd_baseline = snapshot_persistent_rdds(spark)

    def reset() -> None:
        spark.catalog.clearCache()
        release_new_persistent_rdds(spark, rdd_baseline)

    for name in BENCH_QUERIES:
        try:
            fn = queries[name]  # an unresolved name records -1 below

            def timed_run() -> float:
                reset()
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                return time.time() - t0

            timed_run()  # warm-up
            # Best-of-2, plus a third run for sub-2s entries: the
            # host-noise band on those is +/-30% of a few hundred ms,
            # the same order as real regressions (two rounds of
            # untouched-code "movers" traced to exactly this). The
            # per-query spread (max-min over timed runs) goes to
            # stderr so moves can be attributed noise-vs-code against
            # the bands recorded in BASELINE.md.
            runs = [timed_run() for _ in range(2)]
            if min(runs) < 2.0:
                runs.append(timed_run())
            timings[name] = round(min(runs), 4)
            spreads[name] = round(max(runs) - min(runs), 4)
        except Exception as e:  # noqa: BLE001
            timings[name] = -1.0
            print(f"bench error in {name}: {e}", file=sys.stderr)
    try:
        reset()
        timings["pipeline_star"] = bench_pipeline(
            spark, float(sf) if sf.replace(".", "").isdigit() else 0.01
        )
    except Exception as e:  # noqa: BLE001
        timings["pipeline_star"] = -1.0
        print(f"bench error in pipeline_star: {e}", file=sys.stderr)
    try:
        spark.catalog.clearCache()
        timings["pipeline_corpus"] = bench_corpus(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        timings["pipeline_corpus"] = -1.0
        print(f"bench error in pipeline_corpus: {e}", file=sys.stderr)
    try:
        spark.catalog.clearCache()
        timings["pipeline_corpus_full"] = bench_corpus_full(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        timings["pipeline_corpus_full"] = -1.0
        print(f"bench error in pipeline_corpus_full: {e}", file=sys.stderr)
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    # The record self-describes its noise (round-12 verdict item 7):
    # per-query spread across the timed runs separates host drift
    # from code regressions (r11->r12's +11.6% uniform move needed a
    # same-day rerun to adjudicate), and the 1-min load average at
    # start/end flags a non-quiet host outright.
    load_end = os.getloadavg()
    record = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "protocol": (
            "warm-sequence smoke: queries share one JVM/session in a "
            "fixed order, so later entries inherit whatever page/"
            "broadcast/codegen state earlier ones leave — totals are "
            "NOT comparable across rounds (r13->r14's +16% was this, "
            "not a regression). Cross-round and vs-DuckDB adjudication "
            "reads BASELINE.md's BENCH_COMPARE (in-process alternating "
            "A/B, best-of-2 both engines) instead."
        ),
        "noise": {
            "timing_protocol": "min over 2 runs after 1 warm-up; "
            "3rd run when best < 2s; caches reset before every run",
            "per_query_spread_sec": spreads,
            "spread_total_sec": round(sum(spreads.values()), 4),
            "host_load_1m_start": round(load_start[0], 2),
            "host_load_1m_end": round(load_end[0], 2),
        },
    }
    # Full record (noise block included) goes to stderr for the
    # archived artifact, and to the tracked BENCH_LOCAL.json only at
    # the scale that file records: a check at another scale must not
    # overwrite the baseline or dirty the checkout.
    at_baseline = record["sf"] == BASELINE_SF
    if at_baseline:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL.json"),
            "w",
        ) as f:
            json.dump(record, f, indent=1)
    print(json.dumps(record), file=sys.stderr)
    # The ONE stdout JSON line carries the COMPLETE per-query timings
    # map plus per-entry spreads (round-16 verdict item 1: the prior
    # tail line capped `slowest` at the top-53 of 78, so the driver's
    # per-query comparator saw no common entries — PERF_r16 had
    # n_common=0 and a null geomean; two rounds of per-query evidence
    # were invisible to the ground-truth comparison). Key order is
    # still tail-loaded for the driver's 2000-byte stdout-tail
    # archive: `queries` ascending by time, then spreads (same
    # order), then the headline fields last — a truncated prefix
    # still leaves the slowest timings and the headline value intact
    # in the archived artifact, while the untruncated line parses to
    # the full contract map.
    by_time = dict(sorted(timings.items(), key=lambda kv: kv[1]))
    print(json.dumps(
        {
            "full_record": (
                "BENCH_LOCAL.json (repo) + stderr" if at_baseline
                else f"stderr only (BENCH_LOCAL.json records sf{BASELINE_SF})"
            ),
            "protocol": "warm-sequence smoke; per-query spreads in "
            "noise.per_query_spread_sec band each entry",
            "n_queries": len(timings),
            "noise": {
                "per_query_spread_sec": {
                    k: spreads[k] for k in by_time if k in spreads
                },
                "spread_total_sec": record["noise"]["spread_total_sec"],
                "host_load_1m_start": record["noise"]["host_load_1m_start"],
                "host_load_1m_end": record["noise"]["host_load_1m_end"],
            },
            "queries": by_time,
            "sf": record["sf"],
            "metric": "headline_queries_wall_clock",
            "unit": "sec",
            "value": total,
        }
    ))
    spark.stop()


if __name__ == "__main__":
    main()
