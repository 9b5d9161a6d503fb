"""Corpus-hygiene queries (scrub.py operators) under the DuckDB
oracle gate: repetition-based quality filtering and benchmark
contamination. These are the round-6 extension operators the round-6
verdict flagged as pytest-only — both are SQL-expressible, so each
gets the full rows+schema+hash cross-engine check here.

Reference analogue: none (pure extension); the closest reference
spirit is the regex-guarded cleansing layer (Stage_area.sql:85-147).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import scrub
from clinical_data_warehouse_bi_spark.io import fan_out, load_tables
from clinical_data_warehouse_bi_spark.registry import register
from clinical_data_warehouse_bi_spark.text import SQL_TOKENS

#: Gopher-rule thresholds: the one copy of the repetition-quality
#: cut (a document passes when every fraction is at or under its
#: threshold)
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_NGRAM_FRAC = 0.50
MAX_TOP_WORD_FRAC = 0.20

#: benchmark side of the contamination demo: every 41st document
#: plays the role of an eval-set item (deterministic, non-trivial:
#: each matches itself at overlap 1.0 and near-dups surface extra
#: pairs). Production passes a real benchmark table instead.
BENCH_MOD = 41
CONTAM_NGRAM = 8
CONTAM_MIN_OVERLAP = 0.5

# Tokenization shared by both oracles — the exact DuckDB mirror of
# scrub's split(lower(text), "[^a-z0-9']+") with empties filtered.
_SQL_WORDS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),"
    " x -> x <> '')"
)


@register("q_repetition_filter", oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, chr(10)),
                         x -> trim(x) <> '') AS lns,
             {_SQL_WORDS} AS w
      FROM documents),
    g AS (
      SELECT doc_id, lns, w,
             list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
      FROM base),
    top AS (
      SELECT doc_id, max(c) AS top_count FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS tok FROM base)
        GROUP BY doc_id, tok)
      GROUP BY doc_id),
    metrics AS (
      SELECT g.doc_id,
             CASE WHEN len(lns) > 0
                  THEN CAST(len(lns) - len(list_distinct(lns)) AS DOUBLE)
                       / CAST(len(lns) AS DOUBLE)
                  ELSE 0.0 END AS dup_line_frac,
             CASE WHEN len(grams) > 0
                  THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                       / CAST(len(grams) AS DOUBLE)
                  ELSE 0.0 END AS dup_ngram_frac,
             CASE WHEN len(w) > 0
                  THEN CAST(coalesce(top.top_count, 0) AS DOUBLE)
                       / CAST(len(w) AS DOUBLE)
                  ELSE 0.0 END AS top_word_frac
      FROM g LEFT JOIN top ON top.doc_id = g.doc_id)
    SELECT doc_id, dup_line_frac, dup_ngram_frac, top_word_frac,
           (dup_line_frac <= {MAX_DUP_LINE_FRAC}
            AND dup_ngram_frac <= {MAX_DUP_NGRAM_FRAC}
            AND top_word_frac <= {MAX_TOP_WORD_FRAC}) AS keep
    FROM metrics
    """)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/FineWeb repetition quality gate
    (scrub.repetition_metrics): per-document duplicate-line fraction,
    duplicate-3-gram fraction, and top-token share, plus the boolean
    ``keep`` verdict under the standard thresholds. Emitting every row
    with its flag (instead of the filtered subset) puts the REJECTED
    documents' metric values under the cross-engine hash too — the
    production filter is exactly ``WHERE keep``.

    Scale shape (scrub.py): one vectorized Arrow pass, O(tokens) per
    row, no shuffle (see scrub's module docstring for the measured
    mapInPandas-over-interpreted-HOF decision). Numeric parity:
    int-to-double casts are exact and both engines divide the same
    pair of doubles, so the hash compares bit-identical values (the
    q_ngram_jaccard convention)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # fan_out: heavy per-row tokenize/Counter work must not serialize
    # on a one-row-group local scan (no-op on a real many-split scan).
    m = scrub.repetition_metrics(fan_out(docs.select("doc_id", "text")))
    return m.select(
        "doc_id",
        "dup_line_frac",
        "dup_ngram_frac",
        "top_word_frac",
        (
            (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC)
            & (F.col("dup_ngram_frac") <= MAX_DUP_NGRAM_FRAC)
            & (F.col("top_word_frac") <= MAX_TOP_WORD_FRAC)
        ).alias("keep"),
    )


@register("q_contamination", oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - {CONTAM_NGRAM - 1}, 0)),
               i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(CONTAM_NGRAM)).replace("w[i+0]", "w[i]")}
             ))) AS g
      FROM toks),
    bench AS (SELECT doc_id AS bench_id, g FROM grams
              WHERE doc_id % {BENCH_MOD} = 0),
    bsz AS (SELECT bench_id, count(*) AS bench_grams FROM bench
            GROUP BY bench_id),
    hits AS (
      SELECT c.doc_id, b.bench_id, count(*) AS hit_grams
      FROM grams c JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id, b.bench_id)
    SELECT h.doc_id, h.bench_id, s.bench_grams, h.hit_grams,
           CAST(h.hit_grams AS DOUBLE) / CAST(s.bench_grams AS DOUBLE)
             AS overlap_frac
    FROM hits h JOIN bsz s ON s.bench_id = h.bench_id
    WHERE CAST(h.hit_grams AS DOUBLE) / CAST(s.bench_grams AS DOUBLE)
          >= {CONTAM_MIN_OVERLAP}
    """)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination report (scrub.contamination_report):
    which corpus documents contain >= {CONTAM_MIN_OVERLAP} of some
    benchmark item's distinct word {CONTAM_NGRAM}-grams — the
    PaLM/GPT-3 n-gram-overlap decontamination rule. The benchmark
    side is carved deterministically from `documents`
    (doc_id % {BENCH_MOD} = 0) so the check is oracle-able; a real
    run passes the eval set as the second frame.

    Scale shape (scrub.py): both sides hash grams to 64 bits BEFORE
    the only explode, so 8-byte keys shuffle, never text; the
    benchmark side is broadcast, making the probe a map-side hash
    join — no all-pairs, no corpus shuffle. Cross-engine parity rides
    on overlap COUNTS: Spark joins on 64-bit gram hashes, the oracle on
    the gram strings themselves — equal counts modulo hash collisions
    (none on this corpus; a collision would shrink a count by 1 and
    the hash gate would catch it)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # fan_out the corpus side: 8-gram construction + hashing is heavy
    # per-row work that must not serialize on a one-row-group scan
    # (no-op on a real many-split scan). The tiny bench side needs no
    # help — it is broadcast anyway.
    corpus = fan_out(docs.select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return scrub.contamination_report(
        corpus,
        bench,
        corpus_id="doc_id",
        bench_id="bench_id",
        n=CONTAM_NGRAM,
        min_overlap_frac=CONTAM_MIN_OVERLAP,
    )


# the oracle tokenizes with text.SQL_TOKENS, the exact mirror of
# text.tokens ([a-z0-9]+ extraction, the dedup-family tokenizer, NOT
# the apostrophe-aware scrub split above)
@register("q_lm_perplexity", oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    toks AS (
      SELECT doc_id, i AS pos, w[i+1] AS tok
      FROM t, unnest(generate_series(0, len(w) - 1)) AS u(i)),
    big AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks),
    bigrams AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
    vv AS (SELECT count(DISTINCT tok) AS v FROM toks),
    scored AS (
      SELECT b.doc_id,
             ln((bc.c12 + 0.5) / (c1.c1 + 0.5 * vv.v)) AS lp
      FROM bigrams b
      JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
      JOIN c1 ON c1.w1 = b.w1
      CROSS JOIN vv),
    mlp AS (SELECT doc_id, avg(lp) AS mlp FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
           round(exp(-m.mlp), 4) AS ppl
    FROM documents d LEFT JOIN mlp m ON m.doc_id = d.doc_id
    """)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity (lm.perplexity) — the
    CCNet/RefinedWeb-class statistical quality score: train a
    smoothed bigram model on the corpus (one vocabulary-sized count
    shuffle), score every document's mean negative log-likelihood
    under it (broadcast counts, one doc_id shuffle), gate on ppl
    downstream. Add-alpha smoothing keeps the model a pure function
    of the corpus, so the ENTIRE train+score path sits under the
    cross-engine hash gate — the DuckDB oracle retrains the same
    counts and must reproduce every document's rounded perplexity.

    Scale shape: bigrams form map-side from the token array (no
    window shuffle); only (w1, w2) pairs shuffle for counting; the
    scoring pass broadcast-joins the vocabulary-sized model and pays
    one doc_id exchange for the mean. See lm.py for the 100 TB notes
    (hash-pruning rare bigrams; external reference-corpus model via
    the ``model`` parameter)."""
    from clinical_data_warehouse_bi_spark import lm

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # fan_out keyed BY doc_id (round-16): the scoring pass's final
    # per-document mean rides the fan_out exchange instead of adding
    # its own (11 -> 10 exchanges; 2.70 -> 2.40 s alternating A/B at
    # sf0.1, identical rows — the 4-decimal ppl round absorbs the
    # partial-aggregation order change by contract)
    return lm.perplexity(fan_out(docs.select("doc_id", "text"), "doc_id"))


# ---------------------------------------------------------------------------
# Differentially-private release — scrub.dp_release under the hash
# gate (round-10 registration per the round-9 verdict: the privacy
# family is the likeliest clinical-compliance surface)
# ---------------------------------------------------------------------------

#: release parameters for the registered demo: epsilon and the noisy
#: suppression threshold (groups whose NOISED count < k are dropped)
DP_EPSILON = 0.5
DP_SECRET = "cdwbi-dp-demo"
DP_K_MIN = 3.0

#: the md5-nibble uniform-draw construction shared with the Spark
#: side (scrub._laplace_noise): 7 hex nibbles -> u in [0,1) -> -0.5,
#: then inverse-CDF Laplace with the same floor guard
_DP_SPACE = 16 ** 7


def _dp_oracle() -> str:
    # mirror scrub._laplace_noise's NULL-key sentinel (scrub.py:545):
    # a NULL group key coalesces to chr(0)||'null' so the group is
    # noised and released, not silently dropped by NULL propagation
    # through the md5 key (the whole predicate would go NULL)
    key = (
        f"'{DP_SECRET}' || chr(1) ||"
        " coalesce(CAST(event_type AS VARCHAR), chr(0) || 'null')"
        " || chr(2) || 'count'"
    )
    nibble = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({key}), {i}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(1, 8)
    )
    b = 1.0 / DP_EPSILON
    noise = (
        f"(-{b} * sign(u) * ln(greatest(1.0 - 2.0 * abs(u),"
        f" 1.0 / {_DP_SPACE}.0)))"
    )
    return f"""
    WITH g AS (
      SELECT event_type, count(*)::DOUBLE AS n FROM events GROUP BY 1
    ), noised AS (
      SELECT event_type, n, ({nibble}) / {_DP_SPACE}.0 - 0.5 AS u FROM g
    )
    SELECT event_type,
           CAST(CAST(n + {noise} AS DECIMAL(28,6)) AS VARCHAR)
             AS count_noisy_q
    FROM noised
    WHERE n + {noise} >= {DP_K_MIN}
    """


@register("q_dp_release", oracle=_dp_oracle())
def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (scrub.dp_release,
    Laplace mechanism, Dwork et al. 2006) over events.event_type:
    per-group noisy counts with noisy-threshold suppression — the
    publish-outside-the-clinical-zone complement of the k-anonymity
    gate. The noise is DETERMINISTIC KEYED Laplace (md5-nibble
    uniform draw -> inverse CDF), which is what makes a full
    cross-engine oracle possible at all — and is itself the release
    discipline: re-running the release must not hand an attacker a
    fresh noise sample to average away (scrub.py's design note).

    The compared column is the noisy count quantized to 6 decimals
    through a decimal cast ON BOTH SIDES: Spark's and DuckDB's ln()
    may differ in the last ulp, and the driver's comparator hashes
    raw float repr. The unquantized value keeps its exact-equality
    DuckDB twin at full double precision in tests/test_scrub.py.

    Scale shape: ONE group exchange (map-side partial counts); the
    noise is a per-group scalar expression; suppression is a filter
    on the noised relation. Groups never reach the driver."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    out = scrub.dp_release(
        ev,
        ["event_type"],
        epsilon=DP_EPSILON,
        secret=DP_SECRET,
        k_min=DP_K_MIN,
    )
    return out.select(
        "event_type",
        F.col("count_noisy").cast("decimal(28,6)").cast("string")
        .alias("count_noisy_q"),
    )
