"""Corpus-hygiene operators for LLM training-data pipelines:
repetition-based quality metrics, benchmark contamination checks and
the differentially private aggregate release. The tokenize-heavy
operators (repetition metrics, n-gram relations) are Arrow-batched
mapInPandas stages — measured choice, not convenience: Spark's
higher-order array functions (transform/zip_with/aggregate) never
enter whole-stage codegen and evaluate their lambdas
expression-interpreted per element, which put the all-builtin form
~20-50x behind C-backed Python string ops for the same n-gram work
(and an index-lambda slicing form is accidentally O(tokens x text)
per row — HOF lambda bodies get no common-subexpression
elimination). Per-row, no shuffle, and
embarrassingly parallel either way; the cross-engine DuckDB oracles
(queries/hygiene.py) pin the semantics regardless of which side of
the Arrow boundary computes them.

Reference analogue: none — pure extension beyond the reference's
849-line surface (its cleansing layer, Stage_area.sql:85-147, is the
closest spirit: regex-guarded normalization before facts are
promoted). These are the operators a 100 TB pretraining corpus needs
between raw scrape and tokenizer.

Scale notes:
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

#: tokenizer shared by repetition metrics and contamination — the
#: Python mirror of split(lower(text), "[^a-z0-9']+") with empties
#: dropped (ASCII classes: identical across Python re / Java regex /
#: DuckDB RE2)
_TOKEN_RE = re.compile(r"[^a-z0-9']+")


def _tokens_py(text: str | None) -> list[str]:
    return [w for w in _TOKEN_RE.split((text or "").lower()) if w]

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
    k_min: float,
) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    Dwork et al. 2006): per-group noisy counts safe to publish
    outside the clinical zone. The release-side complement of the
    k-anonymity gate: k-anonymity measures a raw release's risk;
    dp_release produces a protected one with a quantified privacy
    budget.

    Mechanics:
    - count: sensitivity 1, Laplace(1/epsilon) noise; the whole
      budget goes to the one released statistic.
    - suppression: groups whose NOISY count < ``k_min`` are dropped —
      thresholding on the noised value (the stability-based
      (eps,delta) construction used by production DP SQL engines),
      never on the true count, which would leak smallness exactly.

    Noise is DETERMINISTIC per (secret, group) — keyed md5, not an
    RNG. Deliberate: re-running the same release yields the SAME
    noise, so repeated publication does not average the noise away
    (the classic repeated-query attack) and incremental pipelines
    stay idempotent. The secret must stay inside the trust boundary
    with the raw data; anyone holding it can invert the noise.

    Output: group_cols..., count (bigint, >= 0, rounded) and
    count_noisy (double, the pre-rounding value the threshold saw).
    ONE exchange (the groupBy); the noise is a per-row JVM
    expression over the group-grain relation."""
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if not secret:
        raise ValueError("dp_release requires a non-empty secret")
    grouped = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).cast("double").alias("__true_n")
    )

    # one stable key string per (secret, group, statistic)
    key_parts: list[Column] = [F.lit(secret)]
    for c in group_cols:
        key_parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\x00null")))
    gkey = F.concat_ws("\x01", *key_parts)

    noised = grouped.withColumn(
        "count_noisy",
        F.col("__true_n")
        + _laplace_noise(
            F.concat(gkey, F.lit("\x02count")), 1.0 / float(epsilon)
        ),
    )
    return noised.filter(F.col("count_noisy") >= F.lit(float(k_min))).select(
        *[F.col(c) for c in group_cols],
        F.greatest(F.round("count_noisy", 0).cast("bigint"), F.lit(0))
        .alias("count"),
        F.col("count_noisy"),
    )
