"""Corpus-hygiene operators for LLM training-data pipelines: PII
scrubbing, repetition-based quality filtering, and benchmark
contamination checks. PII scrubbing is a fused JVM regexp_replace
chain; the tokenize-heavy operators (repetition metrics, n-gram
relations) are Arrow-batched mapInPandas stages — measured choice,
not convenience: Spark's higher-order array functions
(transform/zip_with/aggregate) never enter whole-stage codegen and
evaluate their lambdas expression-interpreted per element, which put
the all-builtin form ~20-50x behind C-backed Python string ops for
the same n-gram work (and an index-lambda slicing form is
accidentally O(tokens x text) per row — HOF lambda bodies get no
common-subexpression elimination). Per-row, no shuffle, and
embarrassingly parallel either way; the cross-engine DuckDB oracles
(queries/hygiene.py) pin the semantics regardless of which side of
the Arrow boundary computes them.

Reference analogue: none — pure extension beyond the reference's
849-line surface (its cleansing layer, Stage_area.sql:85-147, is the
closest spirit: regex-guarded normalization before facts are
promoted). These are the operators a 100 TB pretraining corpus needs
between raw scrape and tokenizer.

Scale notes:
- PII scrubbing is a per-row regexp_replace chain — embarrassingly
  parallel, no shuffle, pushes nothing, needs nothing. Like every
  compute-heavy per-row stage, it runs at the SCAN's parallelism:
  pre-partition few-split local inputs with io.fan_out (no-op on a
  real many-split scan), and persist the gate's output when several
  downstream stages consume it.
- Repetition metrics are one vectorized pass per Arrow batch — no
  shuffle; thresholds filter before anything downstream shuffles
  (the cheap-reject-first rule).
- Contamination hashes n-grams to 8 bytes INSIDE the Python stage,
  so only (id, hash) rows ever cross the Arrow boundary or shuffle —
  never gram text; the benchmark side of the join is tiny and
  broadcast.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from clinical_data_warehouse_bi_spark.io import local_frame

#: tokenizer shared by repetition metrics and contamination — the
#: Python mirror of split(lower(text), "[^a-z0-9']+") with empties
#: dropped (ASCII classes: identical across Python re / Java regex /
#: DuckDB RE2)
_TOKEN_RE = re.compile(r"[^a-z0-9']+")


def _tokens_py(text: str | None) -> list[str]:
    return [w for w in _TOKEN_RE.split((text or "").lower()) if w]

#: PII patterns applied in order (order matters: emails before bare
#: domains would, e.g., double-redact). Each is (regex, replacement).
#: Deliberately conservative/high-precision: an over-eager scrubber
#: destroys training text, and recall tuning belongs to deployment.
PII_PATTERNS: list[tuple[str, str]] = [
    # email addresses
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # US SSN (###-##-####, strict dashes to stay high-precision)
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    # international-ish phone numbers: optional +CC, separators, 7-15
    # digits total (grouped to avoid eating plain large numbers)
    (r"(?<![\d.])(?:\+?\d{1,3}[ .-])?(?:\(\d{2,4}\)[ .-]?)?\d{3}[ .-]\d{3,4}(?:[ .-]\d{2,4})?(?![\d.])", "<PHONE>"),
    # IPv4 addresses
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # 13-19 digit card-like numbers; separators only BETWEEN digits
    # (a trailing [ -]? would swallow the space after the number)
    (r"\b\d(?:[ -]?\d){12,18}\b", "<CARD>"),
]


def scrub_pii(col: Column | str, patterns: list[tuple[str, str]] | None = None) -> Column:
    """Chained regexp_replace over ``PII_PATTERNS`` (or a caller
    list). Pure JVM expression: the chain fuses into one generated
    projection — a single pass over the string per row regardless of
    pattern count."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in patterns or PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def repetition_metrics(
    docs: DataFrame, text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """Gopher/FineWeb-style repetition signals per document, appended
    as columns — one vectorized mapInPandas pass, no shuffle:

    - ``dup_line_frac``: fraction of non-blank lines that are
      duplicates of an earlier line (repeated boilerplate /
      navigation chrome). Blank = empty after trimming SPACES (the
      JVM/DuckDB trim semantics, not Python's all-whitespace strip).
    - ``dup_ngram_frac``: fraction of word ``ngram``-grams that are
      duplicates — the classic repeated-phrase signal.
    - ``top_word_frac``: share of tokens taken by the single most
      frequent token (degenerate keyword-stuffing pages).

    Arrow-batched Python (see module docstring for the measured
    HOF-vs-Python rationale): tokenize/Counter/set are C-backed and
    O(tokens) per row; fractions are int-to-double IEEE divisions,
    bit-identical to the DuckDB oracle's. Docs with no lines/tokens/
    grams score 0.0 (null text included)."""
    out_schema = StructType(
        list(docs.schema.fields)
        + [
            StructField("dup_line_frac", DoubleType()),
            StructField("dup_ngram_frac", DoubleType()),
            StructField("top_word_frac", DoubleType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            dl = np.zeros(n)
            dg = np.zeros(n)
            tw = np.zeros(n)
            for i, t in enumerate(pdf[text_col].tolist()):
                if not t:
                    continue
                lines = [x for x in t.split("\n") if x.strip(" ")]
                if lines:
                    dl[i] = (len(lines) - len(set(lines))) / len(lines)
                toks = _tokens_py(t)
                n_grams = len(toks) - ngram + 1
                if n_grams > 0:
                    grams = list(zip(*(toks[j:] for j in range(ngram))))
                    dg[i] = (n_grams - len(set(grams))) / n_grams
                if toks:
                    tw[i] = max(Counter(toks).values()) / len(toks)
            yield pdf.assign(
                dup_line_frac=dl, dup_ngram_frac=dg, top_word_frac=tw
            )

    return docs.mapInPandas(op, out_schema)


def repetition_filter(
    docs: DataFrame,
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_ngram_frac: float = 0.50,
    max_top_word_frac: float = 0.20,
) -> DataFrame:
    """Keep documents under all three repetition thresholds (defaults
    in the Gopher-rule neighborhood). Filter runs in the same
    projection pass as the metrics — reject cheap, before anything
    shuffles."""
    m = repetition_metrics(docs, text_col)
    return m.filter(
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
        & (F.col("top_word_frac") <= max_top_word_frac)
    )


def _ngram_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram_hash) long-form relation: DISTINCT lowercase word
    n-grams per document, hashed to 64 bits (md5-truncated) INSIDE
    the Arrow stage — only 8-byte keys ever cross the Python-JVM
    boundary or shuffle, never gram text. Both contamination sides go
    through this same function, so the downstream equi-join sees a
    consistent hash family (collision odds over a corpus's distinct
    grams are the usual 64-bit birthday bound)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            hashes: list[int] = []
            for i, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                toks = _tokens_py(t)
                grams = {
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                }
                ids.extend([i] * len(grams))
                hashes.extend(
                    int.from_bytes(
                        hashlib.md5(g.encode()).digest()[:8],
                        "big",
                        signed=True,
                    )
                    for g in grams
                )
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"),
                 "gram_hash": pd.Series(hashes, dtype="int64")}
            )

    return docs.select(id_col, text_col).mapInPandas(
        op, f"{id_col} long, gram_hash long"
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str = "doc_id",
    bench_id: str = "bench_id",
    text_col: str = "text",
    n: int = 8,
    min_overlap_frac: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination check: which corpus documents contain a
    large fraction of some benchmark item's word ``n``-grams (the
    standard n-gram-overlap decontamination rule; n=8 is the
    PaLM/GPT-3 convention). Returns (corpus_id, bench_id,
    bench_grams, hit_grams, overlap_frac) for pairs at or above
    ``min_overlap_frac``.

    Scale shape: both sides reduce to (id, gram_hash) with grams
    hashed to 8 bytes inside the tokenizing Arrow stage (text never
    leaves it); the benchmark side is small by definition and
    broadcast, so the probe is a map-side hash join over the corpus
    grams — no all-pairs, no corpus shuffle. The per-pair aggregation
    groups on (corpus_id, bench_id) — cardinality bounded by actual
    collisions, not the cross product."""
    c = _ngram_hashes(corpus, corpus_id, text_col, n).withColumnRenamed(
        corpus_id, "__cid"
    )
    b = _ngram_hashes(benchmark, bench_id, text_col, n).withColumnRenamed(
        bench_id, "__bid"
    )
    bench_sizes = F.broadcast(
        b.groupBy("__bid").agg(F.count("*").alias("bench_grams"))
    )
    hits = (
        c.join(F.broadcast(b), "gram_hash")
        .groupBy("__cid", "__bid")
        .agg(F.count("*").alias("hit_grams"))
    )
    return (
        hits.join(bench_sizes, "__bid")
        .withColumn(
            "overlap_frac",
            (F.col("hit_grams") / F.col("bench_grams")).cast("double"),
        )
        .filter(F.col("overlap_frac") >= min_overlap_frac)
        .select(
            F.col("__cid").alias(corpus_id),
            F.col("__bid").alias(bench_id),
            "bench_grams",
            "hit_grams",
            "overlap_frac",
        )
    )


def pseudonymize(
    df: DataFrame,
    cols: list[str],
    secret: str,
    *,
    length: int = 16,
) -> DataFrame:
    """Keyed pseudonymization of identifier columns — the clinical
    de-identification step the reference's domain demands beyond
    redaction (scrub_pii destroys the value; research workflows need
    a STABLE surrogate that preserves joinability across tables
    without exposing the identifier): each value v becomes the first
    ``length`` hex chars of sha2(secret || ':' || v, 256).

    Properties the tests pin: deterministic under one secret (joins
    on the pseudonym line up exactly like joins on the raw id),
    different secrets give disjoint token spaces (a leaked table
    cannot be joined back without the secret), nulls stay null, and
    the original column is REPLACED (same schema out). Per-row JVM
    expression — no shuffle, no UDF.

    Secret handling: pass a high-entropy secret from your KMS; the
    hash is keyed but unsalted per-row (same value -> same token by
    design), so low-entropy identifier spaces remain enumerable by
    anyone holding the secret — that is the standard
    pseudonymization trade (GDPR art.4(5)), not an implementation
    gap."""
    if not secret:
        raise ValueError("pseudonymize requires a non-empty secret")
    out = df
    for c in cols:
        tok = F.substring(
            F.sha2(
                F.concat(F.lit(secret), F.lit(":"), F.col(c).cast("string")),
                256,
            ),
            1,
            length,
        )
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), tok))
    return out


def date_shift(
    df: DataFrame,
    entity_col: str,
    date_cols: list[str],
    secret: str,
    max_days: int = 30,
) -> DataFrame:
    """Per-entity date shifting — the OTHER standard clinical
    de-identification transform next to pseudonymize (HIPAA
    safe-harbor practice): every date/timestamp column moves by a
    STABLE per-entity offset in [-max_days, +max_days], derived from
    md5(secret || ':' || entity). One entity, one offset — so
    intervals BETWEEN a patient's events are preserved exactly
    (length-of-stay, time-to-readmission stay analyzable), while
    calendar linkage to external records is broken; the same secret
    reproduces the same shift across every table an entity appears
    in, so cross-table date arithmetic still lines up.

    Per-row JVM expression (md5 + conv + date/timestamp add): no
    shuffle, no UDF, schema preserved. Null entities shift by the
    offset of the literal string 'None' (deterministic, documented)
    rather than erroring a full-corpus pass."""
    if not secret:
        raise ValueError("date_shift requires a non-empty secret")
    if max_days <= 0:
        raise ValueError("max_days must be positive")
    span = 2 * max_days + 1
    offset = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(secret),
                        F.lit(":"),
                        F.coalesce(F.col(entity_col).cast("string"), F.lit("None")),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % span
        - max_days
    )
    out = df
    for c in date_cols:
        dt = dict(out.dtypes)[c]
        if dt.startswith("timestamp"):
            shifted = F.col(c) + F.make_dt_interval(days=offset)
        else:
            shifted = F.date_add(F.col(c), offset.cast("int"))
        out = out.withColumn(c, shifted)
    return out


def k_anonymity_classes(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str | None = None,
) -> DataFrame:
    """Equivalence-class profile for re-identification risk — the
    quantitative face of the de-identification family (pseudonymize /
    date_shift transform; THIS measures whether the result is safe to
    release): group the table by its quasi-identifier columns and
    report each class's size plus, when a sensitive column is given,
    its l-diversity (distinct sensitive values inside the class —
    Sweeney 2002 k-anonymity, Machanavajjhala 2007 l-diversity, both
    public).

    Returns (quasi_cols..., class_size, l_diversity?) — one row per
    equivalence class. Scale shape: ONE groupBy on the quasi columns
    (map-side partial counts; the class relation is orders of
    magnitude smaller than the input), count-distinct of a single
    sensitive column inside the same aggregation."""
    if not quasi_cols:
        raise ValueError("k_anonymity_classes needs at least one quasi column")
    aggs = [F.count("*").cast("bigint").alias("class_size")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).cast("bigint").alias("l_diversity")
        )
    return df.groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)


def k_anonymity_summary(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str | None = None,
    k: int = 5,
) -> DataFrame:
    """One-row release-gate verdict over k_anonymity_classes: the
    dataset's k-anonymity (min class size), class count, total rows,
    rows in classes smaller than ``k`` (the re-identifiable
    population a release at threshold k would expose), and — with a
    sensitive column — the worst-class l-diversity (1 means some
    class is attribute-disclosure trivial: every member shares the
    sensitive value).

    Two aggregations total (classes, then O(#classes) scalars); the
    driver sees one row. The release rule a pipeline enforces:
    require k_anonymity >= k AND min_l_diversity >= 2 before a
    dataset leaves the clinical zone."""
    classes = k_anonymity_classes(df, quasi_cols, sensitive_col)
    aggs = [
        F.min("class_size").cast("bigint").alias("k_anonymity"),
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("class_size") < int(k), F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_k"),
    ]
    if sensitive_col is not None:
        aggs.append(F.min("l_diversity").cast("bigint").alias("min_l_diversity"))
    return classes.agg(*aggs)


def pii_report(
    docs: DataFrame,
    text_col: str = "text",
    patterns: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Corpus-level PII exposure report: ONE scalar-aggregate scan
    counting, per pattern type, total matches and documents touched —
    the audit a de-identified-release pipeline runs BEFORE and AFTER
    scrub_pii (before: what's in there; after: all zeros, asserted).
    Counting is per-row regexp_count / regexp_like fused into a
    single projection; the aggregate emits 2 x |patterns| scalars.
    Returns (pii_type, n_matches, n_docs) via a stack unpivot —
    rows = patterns, not corpus-sized."""
    pats = patterns or PII_PATTERNS
    aggs = []
    for i, (pat, repl) in enumerate(pats):
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        aggs.append(F.sum(c).cast("bigint").alias(f"m_{i}"))
        aggs.append(F.sum((c > 0).cast("bigint")).cast("bigint").alias(f"d_{i}"))
    wide = docs.agg(*aggs)
    labels = [repl.strip("<>").lower() for _, repl in pats]
    stack = ", ".join(
        f"'{labels[i]}', m_{i}, d_{i}" for i in range(len(pats))
    )
    return wide.select(
        F.expr(
            f"stack({len(pats)}, {stack}) AS (pii_type, n_matches, n_docs)"
        )
    )


#: md5-nibble hash space shared with the sampling family
#: (queries/core.py _HASH_SPACE): 7 hex nibbles = uniform 28-bit
_DP_HASH_SPACE = 16 ** 7


def _laplace_noise(key: Column, b: float) -> Column:
    """Deterministic Laplace(b) noise keyed by ``key`` via inverse
    CDF over an md5-derived uniform: u = md5_28bit/2^28 - 0.5 in
    [-0.5, 0.5), X = -b * sign(u) * ln(1 - 2|u|).

    28-bit granularity truncates the tail at |X| <= ~19.4*b (the
    probability mass beyond it is 2^-27 — negligible against the
    release's own randomness); the interior is exact to ~4e-9. The
    same integer is reproducible in any engine as the nibble-strpos
    sum (the q_stratified_sample oracle construction), which is what
    the cross-engine test pins."""
    h = F.conv(F.substring(F.md5(key), 1, 7), 16, 10).cast("double")
    u = h / F.lit(float(_DP_HASH_SPACE)) - F.lit(0.5)
    mag = F.greatest(
        F.lit(1.0) - F.lit(2.0) * F.abs(u), F.lit(1.0 / _DP_HASH_SPACE)
    )
    return -F.lit(float(b)) * F.signum(u) * F.log(mag)


def dp_release(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float,
    secret: str,
    *,
    k_min: float | None = None,
    value_col: str | None = None,
    value_low: float = 0.0,
    value_high: float | None = None,
) -> DataFrame:
    """Differentially-private aggregate release (Laplace mechanism,
    Dwork et al. 2006): per-group noisy counts — and, optionally, a
    noisy BOUNDED sum — safe to publish outside the clinical zone.
    The release-side complement of the k-anonymity gate: k-anonymity
    measures a raw release's risk; dp_release produces a protected
    one with a quantified privacy budget.

    Mechanics:
    - count: sensitivity 1, Laplace(1/eps_c) noise.
    - sum of ``value_col`` clamped to [value_low, value_high]:
      sensitivity max(|low|, |high|), Laplace(sens/eps_s). Clamping
      BEFORE aggregation is what makes the sensitivity finite — an
      unbounded column has no finite-noise release.
    - budget: epsilon is split evenly across the released statistics
      (sequential composition), eps_c = eps_s = epsilon/2 when both.
    - suppression (opt-in, ``k_min`` not None): groups whose NOISY
      count < ``k_min`` are dropped —
      thresholding on the noised value (the stability-based
      (eps,delta) construction used by production DP SQL engines),
      never on the true count, which would leak smallness exactly.

    Noise is DETERMINISTIC per (secret, group, statistic) — keyed
    md5, not an RNG. Deliberate: re-running the same release yields
    the SAME noise, so repeated publication does not average the
    noise away (the classic repeated-query attack) and incremental
    pipelines stay idempotent. The secret must stay inside the
    trust boundary with the raw data; anyone holding it can invert
    the noise.

    Output: group_cols..., count (bigint, >= 0, rounded),
    count_noisy (double, the pre-rounding value the threshold saw),
    and with value_col: sum_<col> (double). ONE exchange (the
    groupBy); the noise is a per-row JVM expression over the
    group-grain relation."""
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if not secret:
        raise ValueError("dp_release requires a non-empty secret")
    if value_col is not None and value_high is None:
        raise ValueError("bounded sum needs value_high")
    if value_col is not None and not value_high > value_low:
        raise ValueError("value_high must exceed value_low")
    n_stats = 2 if value_col is not None else 1
    eps_each = float(epsilon) / n_stats

    aggs = [F.count(F.lit(1)).cast("double").alias("__true_n")]
    if value_col is not None:
        clamped = F.greatest(
            F.lit(float(value_low)),
            F.least(F.lit(float(value_high)), F.col(value_col).cast("double")),
        )
        aggs.append(F.sum(clamped).alias("__true_s"))
    grouped = df.groupBy(*[F.col(c) for c in group_cols]).agg(*aggs)

    # one stable key string per (secret, group, statistic)
    key_parts: list[Column] = [F.lit(secret)]
    for c in group_cols:
        key_parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\x00null")))
    gkey = F.concat_ws("\x01", *key_parts)

    noised = grouped.withColumn(
        "count_noisy",
        F.col("__true_n")
        + _laplace_noise(F.concat(gkey, F.lit("\x02count")), 1.0 / eps_each),
    )
    if value_col is not None:
        sens = max(abs(float(value_low)), abs(float(value_high)))
        noised = noised.withColumn(
            f"sum_{value_col}",
            F.col("__true_s")
            + _laplace_noise(F.concat(gkey, F.lit("\x02sum")), sens / eps_each),
        )
    kept = (
        noised
        if k_min is None
        else noised.filter(F.col("count_noisy") >= F.lit(float(k_min)))
    )
    out_cols = (
        [F.col(c) for c in group_cols]
        + [
            F.greatest(F.round("count_noisy", 0).cast("bigint"), F.lit(0))
            .alias("count"),
            F.col("count_noisy"),
        ]
        + ([F.col(f"sum_{value_col}")] if value_col is not None else [])
    )
    return kept.select(*out_cols)


def suppress_to_k(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
) -> tuple[DataFrame, DataFrame]:
    """Enforce k-anonymity by suppression: drop every row whose
    quasi-identifier equivalence class has fewer than ``k`` members
    — the enforcement half of the measurement the k_anonymity family
    provides (measure -> suppress -> re-measure green is the release
    loop; Sweeney 2002's suppression baseline, the fallback when
    generalization hierarchies aren't defined for the columns).

    Returns (released, report): the surviving rows unchanged, and a
    one-row report (rows_in, rows_released, rows_suppressed,
    classes_suppressed). The released frame satisfies
    k_anonymity_summary(released, quasi_cols).k_anonymity >= k by
    construction (asserted in tests).

    Scale shape: one groupBy on the quasi columns (the class
    relation is orders of magnitude smaller than the input) and one
    keyed join back — the class side is the small side and AQE
    broadcasts it when it fits; no window over the full table (a
    count-over-partition window would sort-shuffle every row's full
    width instead of joining slim class keys). The join back is
    NULL-SAFE (<=>): k_anonymity_classes counts the all-NULL (and
    partly-NULL) quasi combinations as classes, so enforcement must
    apply the same >= k rule to them — a plain equality join would
    silently suppress every NULL-valued class regardless of size,
    making rows_suppressed disagree with classes_suppressed."""
    if k < 2:
        raise ValueError("k must be at least 2 to mean anything")
    from functools import reduce as _reduce

    classes = k_anonymity_classes(df, quasi_cols)
    keep = classes.filter(F.col("class_size") >= int(k)).select(
        *[F.col(c).alias(f"__keep_{c}") for c in quasi_cols]
    )
    cond = _reduce(
        lambda a, b: a & b,
        [df[c].eqNullSafe(keep[f"__keep_{c}"]) for c in quasi_cols],
    )
    released = df.join(keep, cond, "inner").drop(
        *[f"__keep_{c}" for c in quasi_cols]
    )
    n_in = df.count()
    n_out = released.count()
    n_classes_dropped = classes.filter(F.col("class_size") < int(k)).count()
    report = local_frame(
        df.sparkSession,
        [(n_in, n_out, n_in - n_out, n_classes_dropped)],
        "rows_in long, rows_released long, rows_suppressed long, "
        "classes_suppressed long",
    )
    return released, report
