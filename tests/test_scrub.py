"""Corpus-hygiene operators (scrub.py): repetition quality signals,
benchmark contamination and the DP release. Expected values are
computed independently in Python over the same rows (and over the
driver's documents table), so the JVM expression trees are checked
against a second implementation, not against themselves."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import scrub
from clinical_data_warehouse_bi_spark.io import read_table


def test_repetition_metrics_exact_values(spark):
    rows = [
        # 3 non-empty lines, 1 duplicate; tokens cross lines: 9 total
        # (a b a b a b a b a), 7 3-grams with 2 distinct -> 5/7 dup;
        # top token 'a' appears 5 of 9
        (1, "a b a\nb a b\n\na b a"),
        # no repetition at all
        (2, "one two three four"),
        # degenerate all-same-token page
        (3, "spam spam spam spam spam"),
        # shorter than the ngram window -> no grams, frac 0
        (4, "tiny doc"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["dup_line_frac"],
            r["dup_ngram_frac"],
            r["top_word_frac"],
        )
        for r in scrub.repetition_metrics(df, ngram=3).collect()
    }
    assert got[1] == (
        pytest.approx(1 / 3),
        pytest.approx(5 / 7),
        pytest.approx(5 / 9),
    )
    assert got[2] == (0.0, 0.0, pytest.approx(0.25))
    assert got[3] == (0.0, pytest.approx(2 / 3), 1.0)
    assert got[4] == (0.0, 0.0, 0.5)
    assert got[5] == (0.0, 0.0, 0.0)


def test_repetition_metrics_match_python_on_documents(spark, sf_dir):
    """Cross-check the JVM expressions against an independent Python
    implementation over the driver's real documents table."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    got = {
        r["doc_id"]: (r["dup_ngram_frac"], r["top_word_frac"])
        for r in scrub.repetition_metrics(docs, ngram=3).collect()
    }
    for r in docs.collect():
        toks = [t for t in re.split(r"[^a-z0-9']+", r["text"].lower()) if t]
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        want_gram = (
            (len(grams) - len(set(grams))) / len(grams) if grams else 0.0
        )
        want_top = (
            max(toks.count(t) for t in set(toks)) / len(toks) if toks else 0.0
        )
        dg, tw = got[r["doc_id"]]
        assert dg == pytest.approx(want_gram), r["doc_id"]
        assert tw == pytest.approx(want_top), r["doc_id"]


def test_repetition_filter_drops_degenerate(spark):
    """The production repetition gate (q_repetition_filter's ``keep``):
    repetition_metrics under the queries/hygiene.py thresholds keeps
    ordinary prose and drops a one-word spam document."""
    from clinical_data_warehouse_bi_spark.queries.hygiene import (
        MAX_DUP_LINE_FRAC,
        MAX_DUP_NGRAM_FRAC,
        MAX_TOP_WORD_FRAC,
    )

    rows = [
        (1, "a normal sentence with distinct words in it"),
        (2, "spam spam spam spam spam spam"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = [
        r["doc_id"]
        for r in scrub.repetition_metrics(df)
        .filter(
            (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC)
            & (F.col("dup_ngram_frac") <= MAX_DUP_NGRAM_FRAC)
            & (F.col("top_word_frac") <= MAX_TOP_WORD_FRAC)
        )
        .collect()
    ]
    assert kept == [1]


def test_contamination_report_detects_planted_overlap(spark):
    bench_text = "the quick brown fox jumps over the lazy dog every single day"
    corpus = spark.createDataFrame(
        [
            (1, f"intro text then {bench_text} and some trailing words"),
            (2, "completely unrelated content about spark partitioning"),
            (3, "the quick brown fox jumps over nothing here at all today"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "bench_id long, text string"
    )
    rows = scrub.contamination_report(
        corpus, bench, n=8, min_overlap_frac=0.5
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["bench_id"]) == (1, 100)
    # 12-token benchmark -> 5 distinct 8-grams, all present in doc 1
    assert r["bench_grams"] == 5 and r["hit_grams"] == 5
    assert r["overlap_frac"] == 1.0


def test_contamination_join_broadcasts_benchmark(spark, sf_dir):
    """The benchmark side must broadcast (map-side hash join over the
    corpus grams) — a shuffle of the corpus n-gram relation on the
    join key would be the non-scalable plan."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.limit(5).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    plan = scrub.contamination_report(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_texts = st.lists(
    st.text(alphabet="ab x0'\n\t.,", min_size=0, max_size=40),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(_texts)
def test_repetition_metrics_property_vs_python(spark, texts):
    """Hypothesis: the JVM split/array expressions agree with the
    independent Python implementation on adversarial text — empty
    strings, pure-delimiter strings, apostrophes, repeated tiny
    alphabets (the worst case for tokenizer-boundary mismatches)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup_ngram_frac"], r["top_word_frac"])
        for r in scrub.repetition_metrics(df, ngram=2).collect()
    }
    for i, t in rows:
        toks = [w for w in re.split(r"[^a-z0-9']+", t.lower()) if w]
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        want_gram = (len(grams) - len(set(grams))) / len(grams) if grams else 0.0
        want_top = (
            max(toks.count(w) for w in set(toks)) / len(toks) if toks else 0.0
        )
        assert got[i][0] == pytest.approx(want_gram), (i, t)
        assert got[i][1] == pytest.approx(want_top), (i, t)


# ------------------------------------------------- dp_release


def _dp_duck_twin(duck, epsilon: float, secret: str, k_min: float):
    """Independent DuckDB recomputation of dp_release's count
    release over events.event_type: the SAME md5-keyed inverse-CDF
    Laplace noise via the nibble-strpos hash (the
    q_stratified_sample oracle construction)."""
    space = 16 ** 7
    key = f"'{secret}' || chr(1) || CAST(event_type AS VARCHAR) || chr(2) || 'count'"
    nibble = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({key}), {i}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(1, 8)
    )
    b = 1.0 / epsilon
    return duck.execute(f"""
        WITH g AS (
          SELECT event_type, count(*)::DOUBLE AS n FROM events GROUP BY 1
        ), noised AS (
          SELECT event_type, n,
                 ({nibble}) / {space}.0 - 0.5 AS u
          FROM g
        )
        SELECT event_type,
               n + (-{b} * sign(u) * ln(greatest(1.0 - 2.0 * abs(u),
                                                 1.0 / {space}.0)))
                 AS count_noisy
        FROM noised
        WHERE n + (-{b} * sign(u) * ln(greatest(1.0 - 2.0 * abs(u),
                                                1.0 / {space}.0))) >= {k_min}
        ORDER BY event_type
    """).fetchall()


def test_dp_release_matches_duckdb_twin(spark, sf_dir, duck):
    ev = read_table(spark, sf_dir, "events")
    got = sorted(
        (r["event_type"], round(r["count_noisy"], 6))
        for r in scrub.dp_release(
            ev, ["event_type"], epsilon=0.5, secret="s3cr3t", k_min=3.0
        ).collect()
    )
    want = [
        (t, round(v, 6))
        for t, v in _dp_duck_twin(duck, 0.5, "s3cr3t", 3.0)
    ]
    assert got == want and len(got) > 0


def test_dp_release_deterministic_and_secret_sensitive(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    a = scrub.dp_release(ev, ["event_type"], 1.0, "k1", 0.0).collect()
    b = scrub.dp_release(ev, ["event_type"], 1.0, "k1", 0.0).collect()
    c = scrub.dp_release(ev, ["event_type"], 1.0, "k2", 0.0).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r["count_noisy"] for r in a} != {r["count_noisy"] for r in c}


def test_dp_release_noise_scale_is_laplace(spark):
    # ~4000 single-row groups: mean |noise| estimates b within a few
    # percent (std of the estimator is b/sqrt(n) ~ 1.6%); the sign
    # split is ~half/half. Checks the inverse CDF, not just hashing.
    # k_min=-inf keeps every group, negative noise included.
    n = 4000
    df = spark.range(n).withColumn("g", F.col("id").cast("string"))
    eps = 0.25  # b = 4
    out = scrub.dp_release(
        df, ["g"], eps, "scale-test", float("-inf")
    ).select(
        (F.col("count_noisy") - F.lit(1.0)).alias("noise")
    ).collect()
    noises = [r["noise"] for r in out]
    assert len(noises) == n
    b = 1.0 / eps
    mean_abs = sum(abs(x) for x in noises) / n
    assert abs(mean_abs - b) / b < 0.10
    pos = sum(1 for x in noises if x > 0)
    assert 0.45 < pos / n < 0.55


def test_dp_release_suppresses_on_noisy_threshold(spark):
    # huge epsilon -> noisy count ~ true count: a k_min=5 release
    # keeps only the big group
    rows = [("big", 1)] * 9 + [("small", 1)] * 2
    df = spark.createDataFrame(rows, "g string, x int")
    kept = scrub.dp_release(df, ["g"], 1e9, "thr", k_min=5.0).collect()
    assert [r["g"] for r in kept] == ["big"]
    assert kept[0]["count"] == 9


def test_dp_release_single_exchange_plan(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    out = scrub.dp_release(ev, ["event_type"], 1.0, "plan", 3.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_dp_release_rejects_bad_inputs(spark):
    df = spark.range(3).withColumn("g", F.lit("x"))
    with pytest.raises(ValueError):
        scrub.dp_release(df, ["g"], 0.0, "s", 3.0)
    with pytest.raises(ValueError):
        scrub.dp_release(df, ["g"], 1.0, "", 3.0)


# ------------------------------------------------ suppress_to_k


def test_dp_release_null_group_key_released_cross_engine(spark):
    """A NULL group key must be noised and released like any other
    group, and the q_dp_release ORACLE must agree: the oracle key
    mirrors scrub's chr(0)||'null' coalesce sentinel, because a bare
    CAST(NULL AS VARCHAR) would NULL the whole md5 key, make the
    threshold predicate NULL, and silently drop the group (the
    round-10 ADVICE divergence)."""
    import duckdb

    from clinical_data_warehouse_bi_spark.queries.hygiene import (
        DP_EPSILON,
        DP_K_MIN,
        DP_SECRET,
        _dp_oracle,
    )

    key = lambda p: (p[0] is None, p[0] or "", p[1])  # noqa: E731
    rows = [(None,)] * 50 + [("click",)] * 40
    df = spark.createDataFrame(rows, "event_type string")
    got = sorted(
        (
            (r["event_type"], round(r["count_noisy"], 6))
            for r in scrub.dp_release(
                df, ["event_type"], epsilon=DP_EPSILON,
                secret=DP_SECRET, k_min=DP_K_MIN,
            ).collect()
        ),
        key=key,
    )
    # the NULL group must survive on the Spark side
    assert any(t is None for t, _ in got), got

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            "(NULL::VARCHAR)" if t is None else f"('{t}')"
            for (t,) in rows
        )
        + ") AS v(event_type)"
    )
    want = sorted(
        (
            (t, round(float(v), 6))
            for t, v in con.execute(_dp_oracle()).fetchall()
        ),
        key=key,
    )
    assert got == want, (got, want)
