"""Corpus n-gram language-model perplexity scoring.

The quality filter CCNet / RefinedWeb-class pipelines actually run:
train a small LM on a reference corpus, score every candidate
document's perplexity under it, and gate on a threshold — fluent text
scores low, boilerplate/gibberish scores high. The reference warehouse
has no LM (it is BI SQL), but its quality-probe idiom (QA.sql's
per-table sanity aggregates) generalizes to exactly this per-document
statistical score, and the operator is a first-class LLM-pipeline
component alongside dedup/contamination (SURVEY §2 extension log).

Model (deliberately SQL-reproducible so the whole path sits under the
cross-engine hash gate): bigram LM with add-alpha smoothing,

    P(w2 | w1) = (c(w1, w2) + alpha) / (c(w1, ·) + alpha * V)

over the repo's canonical tokenizer (text.tokens); a document scores
ppl = exp(-mean ln P) over its observed bigrams. Backoff/Kneser-Ney
would not be hash-checkable in portable SQL and changes nothing about
the distributed shape.

Scale shape (the part that matters at 100 TB):
- bigrams are built MAP-SIDE from the token array (one expr transform
  + explode — no window over a doc_id shuffle just to pair adjacent
  tokens);
- counting shuffles only (w1, w2) string pairs — vocabulary-bounded,
  tiny next to the corpus;
- scoring re-derives the bigram stream from a second scan (the
  re-tokenize-don't-cache discipline measured in q_corpus_clean),
  broadcast-joins the counts tables (vocabulary-sized; a web-scale
  vocabulary would hash-prune rare bigrams first — same shape), and
  pays ONE doc_id shuffle for the per-document mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.text import tokens

#: add-alpha smoothing mass; 0.5 keeps unseen bigrams finite without
#: drowning the observed distribution at test-corpus vocabulary sizes
DEFAULT_ALPHA = 0.5


def _bigram_stream(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) for every adjacent token pair, built map-side:
    the token array pairs with its own shift inside one projection,
    so no shuffle and no per-document window is paid to form
    bigrams."""
    return (
        docs.select(F.col(id_col).alias("__id"), tokens(text_col).alias("t"))
        .select(
            "__id",
            F.explode(
                # sequence(1, 0) DESCENDS in Spark, so a 0/1-token
                # doc must short-circuit to an empty pair array
                F.expr(
                    "CASE WHEN size(t) < 2 THEN"
                    " cast(array() as array<struct<w1:string,w2:string>>)"
                    " ELSE transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2)) END"
                )
            ).alias("b"),
        )
        .select("__id", "b.w1", "b.w2")
    )


def bigram_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigram counts (w1, w2, c12), context totals (w1, c1), vocab
    size (v) one-row) — the entire trained model. c1 aggregates FROM
    the bigram counts (vocabulary-sized input), not from the corpus a
    second time."""
    bg = _bigram_stream(docs, id_col, text_col)
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    return bc, c1, v


def perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    model_broadcast_max_rows: int | None = None,
) -> DataFrame:
    """(id, n_tokens, ppl): per-document bigram perplexity under the
    LM trained on ``docs`` itself. Documents with fewer than two
    tokens score NULL.

    ppl is rounded to 4 decimals: the per-document mean sums doubles
    in partition order, so the last bits are engine/partitioning
    noise by construction (the q_cosine_topk convention).

    ``model_broadcast_max_rows`` size-gates the two model joins
    (round-12 verdict item 6): the bigram-count relation broadcasts
    only while its row count fits the budget; above it both model
    joins flip to the keyed shuffle-hash form (two corpus exchanges
    on (w1, w2) / (w1) — the documented web-scale-vocabulary
    fallback, now in code via joins.size_gated_broadcast). Default
    is text.VOCAB_BROADCAST_MAX_ROWS. The gate's verdict is memoized
    per plan, so the scored source must not grow under an identical
    plan (an appended-to directory re-read in one session)."""
    bc, c1, v = bigram_counts(docs, id_col, text_col)
    # the model is vocabulary-sized — cache it so the context totals
    # and the scoring broadcast reuse ONE bigram count shuffle instead
    # of re-deriving the corpus-wide stream per consumer, and so the
    # scalar V fetch below stops re-running the corpus vocabulary job
    # on every invocation (measured at sf0.1; the cached relations ARE
    # the trained LM — the io.read_table memoization rationale).
    bc = bc.cache()
    v = v.cache()
    # V is a scalar: fetch it driver-side once and fold it into the
    # smoothing literal (the q_scalar_lookup_default pattern) rather
    # than paying a broadcast crossJoin for one number
    v_val = float(v.first()["v"])
    # ONE corpus pass for the scoring side: token count and the
    # bigram pairs ride the same tokenize projection (explode_outer
    # keeps sub-2-token docs as a null-pair row, which avg() ignores
    # -> NULL ppl), so the scan + regex run once, not once per
    # output column. The only exchange is the final slim
    # (id, n_tokens, lp) groupBy.
    bg = (
        docs.select(F.col(id_col).alias("__id"), tokens(text_col).alias("t"))
        .select(
            "__id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.explode_outer(
                F.expr(
                    "CASE WHEN size(t) < 2 THEN"
                    " cast(array() as array<struct<w1:string,w2:string>>)"
                    " ELSE transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2)) END"
                )
            ).alias("b"),
        )
        .select("__id", "n_tokens", "b.w1", "b.w2")
    )
    from clinical_data_warehouse_bi_spark.joins import size_gated_broadcast
    from clinical_data_warehouse_bi_spark.text import VOCAB_BROADCAST_MAX_ROWS

    if model_broadcast_max_rows is None:
        model_broadcast_max_rows = VOCAB_BROADCAST_MAX_ROWS
    # ONE probe decides both model joins: c1 aggregates from bc, so
    # |c1| <= |bc| and bc's count bounds them together (bc is cached)
    bc_side, fits = size_gated_broadcast(bc, model_broadcast_max_rows)
    c1_side = F.broadcast(c1) if fits else c1.hint("shuffle_hash")
    return (
        bg.join(bc_side, ["w1", "w2"], "left")
        .join(c1_side, ["w1"], "left")
        .select(
            "__id",
            "n_tokens",
            # the explode_outer placeholder row (w1 IS NULL) must
            # stay NULL through the smoothing arithmetic — coalesce
            # would otherwise score a sub-2-token doc as pure
            # smoothing mass instead of NULL
            F.when(
                F.col("w1").isNotNull(),
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(DEFAULT_ALPHA))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(DEFAULT_ALPHA * v_val))
                ),
            ).alias("lp"),
        )
        .groupBy("__id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "ppl")
    )
