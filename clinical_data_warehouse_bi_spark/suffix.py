"""Exact substring deduplication — the suffix-array family (Lee et
al. 2022, "Deduplicating Training Data Makes Language Models Better",
ExactSubstr): find every token span of >= L tokens that occurs more
than once in the corpus, as merged per-document spans ready for
removal. Completes the dedup suite (round-13 verdict item 8): exact
doc-hash, MinHash/LSH, SimHash, CDC-chunk, paragraph and repeated-span
dedup are all document- or chunk-grained; this is the TOKEN-grained
member that catches partial overlap at arbitrary alignment.

Reference context: the reference warehouse (pure MariaDB BI SQL) has
no text dedup at all; this extends the engine's LLM-corpus surface
the way the public pipelines (Lee 2022; RefinedWeb; Dolma) do.

Distributed design — two composable tiers, neither of which ever
puts token content into a keyed exchange:

- **Intra-partition suffix-array tier** (``sa_dup_positions``): one
  ``mapInPandas`` pass over the INPUT partitions — no shuffle at all;
  each partition is consumed in document-order CHUNKS of at most
  MAX_SA_TOKENS tokens, so memory stays bounded whatever the scan's
  maxPartitionBytes binning produced.
  Per chunk: token ids + per-document unique separators are
  concatenated, a prefix-doubling suffix array (numpy lexsorts,
  O(n log n) passes, memory O(n)) orders the suffixes, and a CAPPED
  neighbor comparison marks duplicated window starts — suffixes
  sharing an L-prefix form a contiguous SA block, so "window occurs
  >= 2 times" == "shares >= L tokens with an SA neighbor", checked
  with L vectorized equality sweeps instead of a Kasai LCP pass
  (O(n·L) vectorized beats O(n) interpreted Python at any realistic
  L). Unique separators make cross-document false matches and
  short-tail windows impossible by construction. An oversized
  partition degrades to chunk-local exactness (the composed
  >= L + w - 1 guarantee is the anchor tier's and is unaffected);
  only a single document past MAX_SA_TOKENS fails loudly.
- **Cross-partition anchor tier** (``window_hash_relation``): every
  L-token window keyed by a 128-bit content digest (md5 of the
  chr(1)-joined window — the repo's exact-dedup convention: content
  hashes ARE equality at 2^-128 collision odds). ``winnow_w == 1``
  hashes every window map-side in pure JVM expressions (transform +
  md5 inside the lambda, exploded AFTER hashing) — the exchange
  carries (h, doc_id, pos) only, and the tier alone is EXACT (the SA
  pass is skipped as redundant). ``winnow_w > 1`` is the scale
  knob: robust winnowing (Schleimer et al. 2003, the MOSS scheme)
  anchors ~1/w of the windows, shrinking the exchange w-fold, with
  the standard guarantee that any duplicate of length
  >= L + w - 1 shares an anchor; the SA tier then covers
  intra-partition duplicates at full >= L precision.

Span semantics match the brute-force definition exactly: a token
position is duplicated iff some L-window covering it occurs >= 2
times in the corpus; per document, duplicated window starts merge
into maximal [span_start, span_end] token intervals (1-based,
inclusive — the DuckDB list-index convention the oracle uses).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.text import tokens

#: loud-fail ceiling on tokens per partition in the suffix-array
#: pass: the prefix-doubling build holds ~6 int64 arrays of length n
#: (~200 MB at this bound) — a partition past it should be re-split
#: (repartition) rather than silently thrash
MAX_SA_TOKENS = 4_000_000

#: field separator inside a window digest (tokens are [a-z0-9]+ so
#: chr(1) can never occur in one — injective join, the _fp_sql
#: convention)
WIN_SEP = "\x01"


# --------------------------------------------------------------- numpy core


def suffix_array(arr: np.ndarray) -> np.ndarray:
    """Suffix array of an int64 token-id sequence via prefix doubling:
    O(log n) rounds of numpy lexsort, O(n) memory — the
    bounded-memory construction the per-partition pass runs (SA-IS is
    a constant-factor refinement; the lexsort rounds are fully
    vectorized)."""
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.unique(arr, return_inverse=True)[1].astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    k = 1
    while k < n:
        second = np.full(n, -1, dtype=np.int64)
        second[: n - k] = rank[k:]
        order = np.lexsort((second, rank))
        r1, r2 = rank[order], second[order]
        changed = np.empty(n, dtype=bool)
        changed[0] = False
        changed[1:] = (r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])
        new = np.cumsum(changed)
        rank = np.empty(n, dtype=np.int64)
        rank[order] = new
        sa = order
        if new[-1] == n - 1:
            break
        k *= 2
    return sa


def dup_window_starts(arr: np.ndarray, min_len: int) -> np.ndarray:
    """Positions p where the ``min_len``-token window arr[p:p+L]
    occurs >= 2 times in ``arr`` — the ExactSubstr duplicate
    criterion. Suffixes sharing an L-prefix are CONTIGUOUS in suffix
    order, so every such p has an SA NEIGHBOR sharing >= L tokens:
    one suffix array + L vectorized neighbor-equality sweeps, no LCP
    array. Negative ids are reserved for unique separators/padding —
    they occur once each, so windows containing them can never
    match (the caller's cross-document guard is free)."""
    n = len(arr)
    if n < min_len or min_len < 1:
        return np.empty(0, dtype=np.int64)
    sa = suffix_array(arr)
    # pad with unique negatives so a+off never leaves the array and
    # short suffixes compare unequal automatically
    pad = -(np.arange(min_len, dtype=np.int64) + 1) - (
        np.abs(arr).max() + 2 if n else 2
    )
    arrp = np.concatenate([arr, pad])
    a, b = sa[:-1], sa[1:]
    eq = np.ones(n - 1, dtype=bool)
    for off in range(min_len):
        eq &= arrp[a + off] == arrp[b + off]
        if not eq.any():
            break
    dup = np.zeros(n, dtype=bool)
    dup[a[eq]] = True
    dup[b[eq]] = True
    return np.flatnonzero(dup)


def dup_window_groups(
    arr: np.ndarray, min_len: int
) -> tuple[np.ndarray, np.ndarray]:
    """(positions, labels) for every duplicated ``min_len`` window:
    same label <=> identical window content. Sharing an L-prefix is
    an equivalence relation and equivalent suffixes are CONTIGUOUS in
    suffix order, so the label is a cumsum over neighbor-inequality
    boundaries — the group view dup_window_starts discards, needed by
    the keep-first (canonical-survivor) ranking (round 16)."""
    n = len(arr)
    if n < min_len or min_len < 1:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    sa = suffix_array(arr)
    pad = -(np.arange(min_len, dtype=np.int64) + 1) - (
        np.abs(arr).max() + 2 if n else 2
    )
    arrp = np.concatenate([arr, pad])
    a, b = sa[:-1], sa[1:]
    eq = np.ones(n - 1, dtype=bool)
    for off in range(min_len):
        eq &= arrp[a + off] == arrp[b + off]
        if not eq.any():
            break
    lbl = np.zeros(n, dtype=np.int64)
    lbl[1:] = np.cumsum(~eq)
    member = np.zeros(n, dtype=bool)
    member[:-1] |= eq
    member[1:] |= eq
    return sa[member], lbl[member]


def _winnow_anchors(sel_hash: np.ndarray, w: int) -> np.ndarray:
    """Robust-winnowing anchor positions over a window-hash sequence:
    the argmin (leftmost tie) of every w consecutive hashes, deduped.
    Content-determined, so two copies of the same long duplicate
    anchor the same relative positions — any common run of >= w
    window hashes contributes >= 1 shared anchor (the MOSS
    guarantee)."""
    if len(sel_hash) == 0:
        return np.empty(0, dtype=np.int64)
    if w <= 1 or len(sel_hash) <= w:
        return np.arange(len(sel_hash), dtype=np.int64)
    view = np.lib.stride_tricks.sliding_window_view(sel_hash, w)
    return np.unique(np.argmin(view, axis=1) + np.arange(len(view)))


# --------------------------------------------------------- Spark operators


def _tok_rel(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )


def _sa_chunk(
    doc_ids: list, tok_lists: list, min_tokens: int,
    keep_first: bool = False,
) -> "pd.DataFrame":
    """The suffix-array pass over one bounded chunk of documents:
    (doc_id, pos) rows for every duplicated ``min_tokens`` window
    within the chunk. ``keep_first=True`` ranks each window's
    occurrences by (doc_id, pos) and emits only the NON-canonical
    ones — the same total order the anchor tier's hash-group window
    uses, so the chunk-local survivor is exactly the global
    canonical whenever the global canonical lives in this chunk (and
    is itself marked by the anchor tier otherwise)."""
    empty = pd.DataFrame({"doc_id": [], "pos": []}).astype(
        {"doc_id": "int64", "pos": "int64"}
    )
    if not doc_ids:
        return empty
    # factorize the chunk vocabulary once; separators are unique
    # negatives so no window can span two documents
    flat = [t for toks in tok_lists for t in toks]
    codes = (
        np.unique(np.asarray(flat, dtype=object), return_inverse=True)[1]
        .astype(np.int64)
        if flat
        else np.empty(0, dtype=np.int64)
    )
    pieces, starts, off, cursor = [], [], 0, 0
    for i, toks in enumerate(tok_lists):
        starts.append(off)
        pieces.append(codes[cursor : cursor + len(toks)])
        cursor += len(toks)
        off += len(toks)
        pieces.append(np.array([-(i + 1)], dtype=np.int64))
        off += 1
    arr = np.concatenate(pieces)
    starts_arr = np.asarray(starts, dtype=np.int64)
    ends_arr = starts_arr + np.asarray(
        [len(t) for t in tok_lists], dtype=np.int64
    )
    if keep_first:
        pos, lbl = dup_window_groups(arr, min_tokens)
    else:
        pos = dup_window_starts(arr, min_tokens)
        lbl = None
    if not len(pos):
        return empty
    doc_idx = np.searchsorted(starts_arr, pos, side="right") - 1
    # windows containing a separator can never match (unique ids),
    # so pos is always inside its doc — assert the invariant
    assert (pos + min_tokens <= ends_arr[doc_idx]).all()
    docs_of_pos = np.asarray(doc_ids, dtype=np.int64)[doc_idx]
    rel_pos = pos - starts_arr[doc_idx] + 1  # 1-based
    if keep_first:
        order = np.lexsort((rel_pos, docs_of_pos, lbl))
        is_canon = np.zeros(len(order), dtype=bool)
        is_canon[0] = True
        is_canon[1:] = lbl[order][1:] != lbl[order][:-1]
        keep = order[~is_canon]
        docs_of_pos, rel_pos = docs_of_pos[keep], rel_pos[keep]
    return pd.DataFrame({"doc_id": docs_of_pos, "pos": rel_pos})


def sa_dup_positions(
    docs: DataFrame,
    min_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = False,
) -> DataFrame:
    """(doc_id, pos): 1-based starts of duplicated ``min_tokens``
    windows detectable WITHIN each bounded CHUNK of each input
    partition — the exchange-free suffix-array tier (see module
    docstring). A partition is consumed in document-order chunks of
    at most MAX_SA_TOKENS tokens, so an oversized partition DEGRADES
    to chunk-local exactness instead of failing (round-15: the 1024x
    probe hit the old loud-fail through the scan's maxPartitionBytes
    binning, which no caller-side file layout can control). The
    composed operator's guarantee is unaffected: cross-chunk and
    cross-partition pairs >= min_tokens + winnow_w - 1 are the
    anchor tier's job either way. Only a SINGLE DOCUMENT larger
    than MAX_SA_TOKENS still fails loudly — its suffix array cannot
    be bounded by splitting."""
    if min_tokens < 1:
        raise ValueError("min_tokens must be positive")

    def op(batches):
        doc_ids: list = []
        tok_lists: list = []
        total = 0
        emitted = False
        for pdf in batches:
            for did, toks in zip(pdf["doc_id"], pdf["__toks"]):
                n = len(toks) + 1
                if n > MAX_SA_TOKENS:
                    raise ValueError(
                        f"a single document holds > MAX_SA_TOKENS="
                        f"{MAX_SA_TOKENS} tokens (doc_id={did}): its "
                        "suffix array cannot be bounded by chunking — "
                        "split the document upstream"
                    )
                if total and total + n > MAX_SA_TOKENS:
                    yield _sa_chunk(doc_ids, tok_lists, min_tokens,
                                    keep_first)
                    emitted = True
                    doc_ids, tok_lists, total = [], [], 0
                doc_ids.append(did)
                tok_lists.append(list(toks))
                total += n
        if doc_ids or not emitted:
            yield _sa_chunk(doc_ids, tok_lists, min_tokens, keep_first)

    return _tok_rel(docs, id_col, text_col).mapInPandas(
        op, "doc_id bigint, pos bigint"
    )


def window_hash_relation(
    docs: DataFrame,
    min_tokens: int,
    winnow_w: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, h): md5 digest per ``min_tokens`` window — every
    window at ``winnow_w == 1`` (pure JVM expressions: the digest is
    computed INSIDE the transform lambda, so the exploded rows — and
    any downstream exchange — carry only the slim triple), winnowed
    anchors at ``winnow_w > 1`` (Arrow pass: a cheap content-pure
    selection hash picks argmin anchors per w-window, md5 only the
    selected ~1/w)."""
    if min_tokens < 1 or winnow_w < 1:
        raise ValueError("min_tokens and winnow_w must be positive")
    L = int(min_tokens)
    rel = _tok_rel(docs, id_col, text_col)
    if winnow_w == 1:
        win = F.expr(
            f"CASE WHEN size(__toks) >= {L} THEN "
            f"transform(sequence(1, size(__toks) - {L} + 1), "
            f"i -> struct(i AS pos, "
            f"md5(array_join(slice(__toks, i, {L}), '{WIN_SEP}')) AS h)) "
            "ELSE cast(array() AS array<struct<pos:int,h:string>>) END"
        )
        return rel.select(
            "doc_id", F.explode(win).alias("__w")
        ).select(
            "doc_id",
            F.col("__w.pos").cast("bigint").alias("pos"),
            F.col("__w.h").alias("h"),
        )

    coef = ((np.arange(L, dtype=np.int64) * 2 + 1) * 2654435761).astype(
        np.int64
    )

    def op(batches):
        import zlib

        for pdf in batches:
            out_doc, out_pos, out_h = [], [], []
            for did, toks in zip(pdf["doc_id"], pdf["__toks"]):
                toks = list(toks)
                n = len(toks)
                if n < L:
                    continue
                crc = np.array(
                    [zlib.crc32(t.encode()) for t in toks], dtype=np.int64
                )
                wview = np.lib.stride_tricks.sliding_window_view(crc, L)
                sel = (wview * coef[None, :]).sum(axis=1)
                for p in _winnow_anchors(sel, winnow_w):
                    out_doc.append(did)
                    out_pos.append(int(p) + 1)
                    out_h.append(
                        hashlib.md5(
                            WIN_SEP.join(toks[p : p + L]).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": out_doc, "pos": out_pos, "h": out_h}
            ).astype({"doc_id": "int64", "pos": "int64", "h": "object"})

    return rel.mapInPandas(op, "doc_id bigint, pos bigint, h string")


def _merge_spans(marked: DataFrame, min_tokens: int) -> DataFrame:
    """(doc_id, span_start, span_end): merge duplicated window starts
    into maximal covered token intervals — the gaps-and-islands
    running-max form, one slim (doc_id, pos) exchange shared by both
    window functions and the final group."""
    L = int(min_tokens)
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(L - 1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    grp = F.sum(brk).over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("__grp", grp)
        .groupBy("doc_id", "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def duplicate_spans(
    docs: DataFrame,
    min_tokens: int = 20,
    winnow_w: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = False,
) -> DataFrame:
    """(doc_id, span_start, span_end): maximal duplicated token spans
    (1-based, inclusive) — ExactSubstr's output. ``winnow_w == 1`` is
    EXACT (every window hashed; the anchor tier alone is complete, so
    the suffix-array pass is skipped as redundant); ``winnow_w > 1``
    exchanges ~1/w of the windows and composes both tiers:
    intra-chunk duplicates exact at >= min_tokens (suffix array over
    bounded document-order chunks), cross-chunk/cross-partition
    duplicates guaranteed at >= min_tokens +
    winnow_w - 1 (winnowing), with span edges resolved to anchor
    granularity. Exchanges: one on the 128-bit window digest
    (duplicate detection), one on doc_id (span merge) — both slim;
    token content never enters a keyed exchange (plan-locked).

    ``keep_first=True`` marks only the NON-CANONICAL occurrences of
    each duplicated window (canonical = lowest (doc_id, pos) in the
    hash group — one deterministic survivor per window, the
    keep-one-copy training form Lee et al. apply; default False
    marks every occurrence, the conservative decontamination form).
    The ranking rides the same hash-keyed window as the count — no
    extra exchange.

    keep_first composes with winnow_w > 1 (round 16): the SA tier
    ranks by the SAME (doc_id, pos) total order within its group view
    (suffix.dup_window_groups), so the tiers agree on the survivor —
    when the global canonical copy is inside a chunk it IS that
    chunk's local minimum (never marked by either tier), and when it
    is elsewhere, the chunk-local survivor is marked by the anchor
    tier (any >= min_tokens + w - 1 shared span carries >= 1 shared
    winnow anchor, whose hash group spans partitions). The winnow
    guarantee carries over: every NON-canonical copy of a
    >= min_tokens + w - 1 span loses at least one >= min_tokens
    window; shorter cross-partition duplicates may keep one copy per
    partition-chunk."""
    anchors = window_hash_relation(
        docs, min_tokens, winnow_w, id_col, text_col
    )
    w_h = Window.partitionBy("h")
    cond = F.count("*").over(w_h) >= 2
    if keep_first:
        rn = F.row_number().over(
            w_h.orderBy(F.col("doc_id").asc(), F.col("pos").asc())
        )
        cond = cond & (rn >= 2)
    marked = (
        anchors.withColumn("__keep", cond)
        .filter(F.col("__keep"))
        .select("doc_id", "pos")
    )
    if winnow_w > 1:
        marked = marked.unionByName(
            sa_dup_positions(
                docs, min_tokens, id_col, text_col, keep_first=keep_first
            )
        )
    return _merge_spans(marked, min_tokens)


def strip_duplicate_spans(
    docs: DataFrame,
    min_tokens: int = 20,
    winnow_w: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = False,
) -> DataFrame:
    """(id_col, text): the corpus with duplicated spans' tokens
    REMOVED — every occurrence by default (the conservative
    decontamination form Lee et al. evaluate), or all-but-one with
    ``keep_first=True`` (the keep-one-copy training form; see
    duplicate_spans) — and the surviving tokens re-joined with
    single spaces. Output text is the NORMALIZED token stream (the
    tokenizer lowers and strips punctuation) — the form an LLM
    training pipeline feeds the tokenizer anyway; callers needing
    original bytes should treat the spans relation as a mask instead.

    The spans side is size-gated-broadcast up to 2M rows; past that
    the join flips to a shuffle keyed on the UNIFORM doc id (the
    corpus-clean convention: text shuffles once by doc_id, never by
    a content key)."""
    from clinical_data_warehouse_bi_spark.joins import size_gated_broadcast

    spans = duplicate_spans(
        docs, min_tokens, winnow_w, id_col, text_col, keep_first=keep_first
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    side, _ = size_gated_broadcast(per_doc, 2_000_000)
    rel = _tok_rel(docs, id_col, text_col).join(side, "doc_id", "left")
    kept = F.expr(
        "array_join(transform(filter(transform("
        "sequence(1, size(__toks)), i -> struct(i AS i, __toks[i-1] AS t)), "
        "s -> __spans IS NULL OR NOT exists(__spans, "
        "sp -> s.i BETWEEN sp.span_start AND sp.span_end)), "
        "s -> s.t), ' ')"
    )
    return rel.select(
        F.col("doc_id").alias(id_col),
        F.when(F.size("__toks") > 0, kept).otherwise(F.lit("")).alias("text"),
    )


# ------------------------------------------------- persisted digest index
#
# Exact-substring DECONTAMINATION: a training pipeline must check new
# data against a REFERENCE corpus (held-out benchmarks, an already-
# released training set) without rescanning the reference per batch.
# The reference's distinct window digests persist once, parquet-
# partitioned by digest bucket (the BM25/IVF-PQ persisted-index
# conventions: meta JSON written last = complete-iff-present marker,
# same single-writer scope); a probe computes the new batch's
# digests map-side and semi-joins the index with the scan PRUNED to
# the batch's bucket set — probe cost is batch-proportional plus the
# touched fraction of the index, never a full reference rescan.

SUFFIX_INDEX_META = "_suffix_meta.json"
SUFFIX_INDEX_FORMAT_VERSION = 1


def _bucketed(rel: DataFrame, n_buckets: int) -> DataFrame:
    return rel.withColumn(
        "bucket", F.pmod(F.crc32(F.col("h")), F.lit(n_buckets)).cast("int")
    )


def build_suffix_index(
    docs: DataFrame,
    path: str,
    min_tokens: int = 20,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Persist the reference corpus's DISTINCT ``min_tokens``-window
    digests, partitioned by digest bucket. One digest row per unique
    window (presence is the contract — decontamination needs
    membership, not counts), so the index is bounded by the
    reference's unique-window count regardless of duplication."""
    import json
    import os

    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    rel = window_hash_relation(docs, min_tokens, 1, id_col, text_col)
    idx = _bucketed(rel.select("h").distinct(), n_buckets)
    idx.write.mode("overwrite").partitionBy("bucket").parquet(path)
    meta = {
        "format_version": SUFFIX_INDEX_FORMAT_VERSION,
        "min_tokens": int(min_tokens),
        "n_buckets": int(n_buckets),
    }
    with open(os.path.join(path, SUFFIX_INDEX_META), "w") as f:
        json.dump(meta, f)
    return meta


def _load_suffix_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, SUFFIX_INDEX_META)) as f:
        meta = json.load(f)
    if meta.get("format_version") != SUFFIX_INDEX_FORMAT_VERSION:
        raise ValueError(f"stale suffix index format at {path}")
    return meta


def probe_suffix_index(
    spark,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, span_start, span_end): maximal spans of ``new_docs``
    whose windows appear in the persisted reference index — the
    decontamination report (drop or flag these spans before the
    batch enters a training corpus). The batch's digests compute
    map-side; the index scan prunes to the batch's bucket set (a
    bounded batch touches few bucket= directories); the semi-join
    keys on (bucket, h) — slim rows only, token content never in a
    keyed exchange (the module contract)."""
    meta = _load_suffix_meta(path)
    probe = _bucketed(
        window_hash_relation(
            new_docs, meta["min_tokens"], 1, id_col, text_col
        ),
        meta["n_buckets"],
    ).localCheckpoint()  # consumed twice: bucket-set probe + the join
    buckets = [
        r["bucket"] for r in probe.select("bucket").distinct().collect()
    ]
    if not buckets:
        return _merge_spans(
            probe.select("doc_id", "pos").limit(0), meta["min_tokens"]
        )
    idx = spark.read.parquet(path).where(F.col("bucket").isin(buckets))
    marked = probe.join(idx, ["bucket", "h"], "left_semi").select(
        "doc_id", "pos"
    )
    return _merge_spans(marked, meta["min_tokens"])
