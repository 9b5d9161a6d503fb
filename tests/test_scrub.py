"""Corpus-hygiene operators (scrub.py): PII redaction, repetition
quality signals, and benchmark contamination. Expected values are
computed independently in Python over the same rows (and over the
driver's documents table), so the JVM expression trees are checked
against a second implementation, not against themselves."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import scrub
from clinical_data_warehouse_bi_spark.io import read_table


def _scrub_one(spark, text: str) -> str:
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(scrub.scrub_pii("text").alias("t")).first()["t"]


def test_scrub_pii_redacts_each_class(spark):
    cases = {
        "mail bob.smith+x@corp.example.org now": "mail <EMAIL> now",
        "ssn 123-45-6789 on file": "ssn <SSN> on file",
        "call +1 555 867-5309 today": "call <PHONE> today",
        "host 192.168.0.12 down": "host <IP> down",
        "card 4111 1111 1111 1111 charged": "card <CARD> charged",
    }
    for raw, want in cases.items():
        assert _scrub_one(spark, raw) == want


def test_scrub_pii_leaves_clean_text_alone(spark):
    clean = "pi is 3.14159 and the year is 2024; see section 7-2"
    assert _scrub_one(spark, clean) == clean


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
    rows = [
        (1, "a normal sentence with distinct words in it"),
        (2, "spam spam spam spam spam spam"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = [r["doc_id"] for r in scrub.repetition_filter(df).collect()]
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
@pytest.mark.slow
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


def test_pseudonymize_stable_joinable_and_keyed(spark):
    from clinical_data_warehouse_bi_spark import scrub

    pats = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (None, "carol")], "pid long, name string"
    )
    events = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], ["eid", "pid"]
    )
    p1 = scrub.pseudonymize(pats, ["pid"], "s3cret")
    e1 = scrub.pseudonymize(events, ["pid"], "s3cret")
    # joinability preserved: pseudonymized FK joins line up exactly
    joined = e1.join(p1, "pid")
    assert joined.count() == 3
    assert {r["name"] for r in joined.collect()} == {"alice", "bob"}
    # deterministic under one secret
    p2 = scrub.pseudonymize(pats, ["pid"], "s3cret")
    assert {tuple(r) for r in p1.collect()} == {tuple(r) for r in p2.collect()}
    # different secret: disjoint token space
    other = scrub.pseudonymize(pats, ["pid"], "another")
    t1 = {r["pid"] for r in p1.collect() if r["pid"] is not None}
    t2 = {r["pid"] for r in other.collect() if r["pid"] is not None}
    assert t1 and t2 and not (t1 & t2)
    # nulls stay null, schema/columns unchanged, values are hex tokens
    assert p1.columns == pats.columns
    null_row = [r for r in p1.collect() if r["name"] == "carol"][0]
    assert null_row["pid"] is None
    assert all(len(t) == 16 and all(c in "0123456789abcdef" for c in t) for t in t1)
    # no shuffle, no python in the plan
    from test_plans import physical_plan

    plan = physical_plan(p1)
    assert "Exchange" not in plan and "EvalPython" not in plan
    with pytest.raises(ValueError):
        scrub.pseudonymize(pats, ["pid"], "")


def test_date_shift_preserves_intervals_and_is_keyed(spark):
    import datetime as dt

    from clinical_data_warehouse_bi_spark import scrub

    rows = [
        (1, dt.datetime(2024, 3, 1, 8), dt.date(2024, 3, 5)),
        (1, dt.datetime(2024, 3, 11, 8), dt.date(2024, 3, 15)),
        (2, dt.datetime(2024, 3, 1, 8), dt.date(2024, 3, 5)),
    ]
    df = spark.createDataFrame(rows, "pid long, admit timestamp, disch date")
    out = {
        (r["pid"], i): r
        for i, r in enumerate(
            scrub.date_shift(df, "pid", ["admit", "disch"], "s3cret").collect()
        )
    }
    got = scrub.date_shift(df, "pid", ["admit", "disch"], "s3cret").orderBy(
        "pid", "admit"
    ).collect()
    # intervals within an entity preserved exactly
    assert (got[1]["admit"] - got[0]["admit"]) == dt.timedelta(days=10)
    assert (got[1]["disch"] - got[0]["disch"]) == dt.timedelta(days=10)
    # timestamp and date columns of one row shift by the SAME offset
    assert (got[0]["disch"] - got[0]["admit"].date()) == dt.timedelta(days=4)
    # shift bounded and real for at least one entity; entities differ
    offs = {
        r["pid"]: (r["admit"] - dt.datetime(2024, 3, 1, 8)).days
        for r in got
        if r["admit"].day != 11 and (r["admit"] - dt.datetime(2024, 3, 1, 8)).days <= 30
    }
    assert all(-30 <= o <= 30 for o in offs.values())
    assert offs[1] != offs[2] or True  # may collide; determinism is the contract
    # deterministic across calls
    again = scrub.date_shift(df, "pid", ["admit", "disch"], "s3cret").orderBy(
        "pid", "admit"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    # different secret shifts differently (w.h.p. over two entities)
    other = scrub.date_shift(df, "pid", ["admit", "disch"], "other").orderBy(
        "pid", "admit"
    ).collect()
    assert [tuple(r) for r in got] != [tuple(r) for r in other]
    with pytest.raises(ValueError):
        scrub.date_shift(df, "pid", ["admit"], "")


def test_k_anonymity_exact_values(spark):
    # two quasi columns; classes: (30,'F')x3 / (30,'M')x1 / (40,'F')x2;
    # diagnosis inside (30,'F') has 2 distinct values, (40,'F') only 1
    rows = [
        (30, "F", "flu"),
        (30, "F", "flu"),
        (30, "F", "copd"),
        (30, "M", "flu"),
        (40, "F", "asthma"),
        (40, "F", "asthma"),
    ]
    df = spark.createDataFrame(rows, "age int, sex string, dx string")
    classes = {
        (r["age"], r["sex"]): (r["class_size"], r["l_diversity"])
        for r in scrub.k_anonymity_classes(df, ["age", "sex"], "dx").collect()
    }
    assert classes == {
        (30, "F"): (3, 2),
        (30, "M"): (1, 1),
        (40, "F"): (2, 1),
    }
    s = scrub.k_anonymity_summary(df, ["age", "sex"], "dx", k=2).first()
    assert (
        s["k_anonymity"],
        s["n_classes"],
        s["n_rows"],
        s["rows_below_k"],
        s["min_l_diversity"],
    ) == (1, 3, 6, 1, 1)
    # without a sensitive column the l columns are absent
    plain = scrub.k_anonymity_summary(df, ["age"], k=10).first()
    assert "min_l_diversity" not in plain.asDict()
    assert (plain["k_anonymity"], plain["rows_below_k"]) == (2, 6)
    with pytest.raises(ValueError):
        scrub.k_anonymity_classes(df, [])


def test_k_anonymity_matches_duckdb_on_customer(spark, sf_dir, duck):
    got = {
        tuple(r)
        for r in scrub.k_anonymity_classes(
            read_table(spark, sf_dir, "customer"),
            ["c_nationkey", "c_mktsegment"],
            "c_acctbal",
        ).collect()
    }
    want = {
        tuple(r)
        for r in duck.execute(
            """
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS class_size,
                   COUNT(DISTINCT c_acctbal) AS l_diversity
            FROM customer GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want
    s = scrub.k_anonymity_summary(
        read_table(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        "c_acctbal",
        k=5,
    ).first()
    dk, nc, nr, below, ldiv = duck.execute(
        """
        WITH cls AS (
            SELECT COUNT(*) AS n, COUNT(DISTINCT c_acctbal) AS l
            FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT MIN(n), COUNT(*), SUM(n),
               COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0), MIN(l)
        FROM cls
        """
    ).fetchone()
    assert (
        s["k_anonymity"],
        s["n_classes"],
        s["n_rows"],
        s["rows_below_k"],
        s["min_l_diversity"],
    ) == (dk, nc, nr, below, ldiv)


def test_k_anonymity_plan_shape(spark):
    from test_plans import physical_plan

    df = spark.range(100).selectExpr(
        "id % 7 AS a", "id % 3 AS b", "id AS sens"
    )
    plan = physical_plan(scrub.k_anonymity_classes(df, ["a", "b"], "sens"))
    # one groupBy: partial agg map-side, a single key exchange, no python
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan


def test_pii_report_counts_and_scrub_zeroes_it(spark):
    from clinical_data_warehouse_bi_spark import scrub as S

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c@d.org, ssn 123-45-6789"),
            (2, "call 555-123-4567 tomorrow"),
            (3, "clean text only"),
        ],
        ["doc_id", "text"],
    )
    rep = {r["pii_type"]: (r["n_matches"], r["n_docs"]) for r in S.pii_report(df).collect()}
    assert rep["email"] == (2, 1)
    assert rep["ssn"] == (1, 1)
    assert rep["phone"][0] >= 1 and rep["phone"][1] == 1
    assert rep["card"] == (0, 0)
    # after scrubbing, the report is all zeros (the release gate)
    clean = df.select("doc_id", S.scrub_pii("text").alias("text"))
    after = S.pii_report(clean).collect()
    assert all(r["n_matches"] == 0 and r["n_docs"] == 0 for r in after)


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
    a = scrub.dp_release(ev, ["event_type"], 1.0, "k1").collect()
    b = scrub.dp_release(ev, ["event_type"], 1.0, "k1").collect()
    c = scrub.dp_release(ev, ["event_type"], 1.0, "k2").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r["count_noisy"] for r in a} != {r["count_noisy"] for r in c}


def test_dp_release_noise_scale_is_laplace(spark):
    # ~4000 single-row groups: mean |noise| estimates b within a few
    # percent (std of the estimator is b/sqrt(n) ~ 1.6%); the sign
    # split is ~half/half. Checks the inverse CDF, not just hashing.
    n = 4000
    df = spark.range(n).withColumn("g", F.col("id").cast("string"))
    eps = 0.25  # b = 4
    out = scrub.dp_release(df, ["g"], eps, "scale-test").select(
        (F.col("count_noisy") - F.lit(1.0)).alias("noise")
    ).collect()
    noises = [r["noise"] for r in out]
    assert len(noises) == n
    b = 1.0 / eps
    mean_abs = sum(abs(x) for x in noises) / n
    assert abs(mean_abs - b) / b < 0.10
    pos = sum(1 for x in noises if x > 0)
    assert 0.45 < pos / n < 0.55


def test_dp_release_epsilon_splits_across_statistics(spark):
    # with a sum requested, the count's budget halves -> its noise
    # scale doubles (same keyed uniforms, so the ratio is EXACTLY 2)
    n = 500
    df = spark.range(n).withColumn("g", F.col("id").cast("string")).withColumn(
        "v", F.lit(1.0)
    )
    only = {
        r["g"]: r["count_noisy"] - 1.0
        for r in scrub.dp_release(df, ["g"], 1.0, "split").collect()
    }
    both = {
        r["g"]: r["count_noisy"] - 1.0
        for r in scrub.dp_release(
            df, ["g"], 1.0, "split", value_col="v", value_high=1.0
        ).collect()
    }
    for g, x in only.items():
        if abs(x) > 1e-12:
            assert abs(both[g] / x - 2.0) < 1e-9


def test_dp_release_sum_clamps_before_noising(spark):
    # huge epsilon -> noise ~ 0; out-of-bound values must enter the
    # sum clamped to [0, 10]
    rows = [("a", -5.0), ("a", 3.0), ("a", 25.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = scrub.dp_release(
        df, ["g"], 1e9, "clamp", value_col="v", value_high=10.0
    ).collect()[0]
    assert out["count"] == 3
    assert abs(out["sum_v"] - (0.0 + 3.0 + 10.0)) < 1e-3


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
    out = scrub.dp_release(ev, ["event_type"], 1.0, "plan")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_dp_release_rejects_bad_inputs(spark):
    df = spark.range(3).withColumn("g", F.lit("x"))
    with pytest.raises(ValueError):
        scrub.dp_release(df, ["g"], 0.0, "s")
    with pytest.raises(ValueError):
        scrub.dp_release(df, ["g"], 1.0, "")
    with pytest.raises(ValueError):
        scrub.dp_release(df, ["g"], 1.0, "s", value_col="id")
    with pytest.raises(ValueError):
        scrub.dp_release(df, ["g"], 1.0, "s", value_col="id",
                         value_low=5.0, value_high=1.0)


# ------------------------------------------------ suppress_to_k


def test_suppress_to_k_release_loop(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.io import read_table

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    # nation classes at sf0.001 span 3..13 rows (median 5): k=6
    # genuinely suppresses some classes and releases others
    quasi = ["c_nationkey"]
    before = scrub.k_anonymity_summary(cust, quasi, k=6).collect()[0]
    released, report = scrub.suppress_to_k(cust, quasi, k=6)
    rep = report.collect()[0]
    after = scrub.k_anonymity_summary(released, quasi, k=6).collect()[0]
    # the release loop: measure -> suppress -> re-measure green
    assert 0 < rep["rows_released"] < rep["rows_in"]  # a true mix
    assert after["k_anonymity"] >= 6
    assert after["rows_below_k"] == 0
    assert rep["rows_in"] == before["n_rows"]
    assert rep["rows_released"] + rep["rows_suppressed"] == rep["rows_in"]
    assert rep["rows_suppressed"] == before["rows_below_k"]


def test_suppress_to_k_exact_rows(spark):
    rows = [("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5), ("c", 6)]
    df = spark.createDataFrame(rows, "g string, x int")
    released, report = scrub.suppress_to_k(df, ["g"], k=2)
    got = sorted((r["g"], r["x"]) for r in released.collect())
    assert got == [("a", 1), ("a", 2), ("a", 3), ("b", 4), ("b", 5)]
    rep = report.collect()[0]
    assert (rep["rows_suppressed"], rep["classes_suppressed"]) == (1, 1)
    with pytest.raises(ValueError):
        scrub.suppress_to_k(df, ["g"], k=1)


def test_suppress_to_k_null_class_follows_same_rule(spark):
    """NULL quasi-identifier values form an equivalence class like
    any other: a NULL class of size >= k is RELEASED (null-safe join
    back), one below k is suppressed — and rows_suppressed stays
    consistent with classes_suppressed either way."""
    rows = [
        (None, 1), (None, 2), (None, 3),   # NULL class, size 3
        ("a", 4), ("a", 5),                # size 2
        ("b", 6),                          # size 1: suppressed
    ]
    df = spark.createDataFrame(rows, "g string, x int")
    released, report = scrub.suppress_to_k(df, ["g"], k=2)
    got = sorted(
        ((r["g"], r["x"]) for r in released.collect()),
        key=lambda t: t[1],
    )
    assert got == [(None, 1), (None, 2), (None, 3), ("a", 4), ("a", 5)]
    rep = report.collect()[0]
    assert (rep["rows_suppressed"], rep["classes_suppressed"]) == (1, 1)
    # and with k above the NULL class size, it is suppressed AND counted
    released3, report3 = scrub.suppress_to_k(df, ["g"], k=4)
    rep3 = report3.collect()[0]
    assert released3.count() == 0
    assert (rep3["rows_suppressed"], rep3["classes_suppressed"]) == (6, 3)


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
