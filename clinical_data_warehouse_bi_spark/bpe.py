"""Byte-pair-encoding tokenizer training and encoding at corpus
scale (Sennrich et al. 2016; the GPT-2 encoder's merge-rank greedy
application).

The scalable construction is the one public BPE trainers actually
use: merges depend ONLY on the word-frequency histogram, not on the
corpus layout — so 100 TB of text reduces to ONE distributed
histogram job (explode -> count, a few 10^6 distinct words), and the
merge loop itself runs driver-side over that small histogram in pure
Python, exactly like a single-node trainer. Distributing the merge
loop would add a job barrier per merge (thousands of barriers) to
iterate over data that fits in memory — the same measured reasoning
as the sampled k-means quantizer fit (SURVEY §9 item 11).

Encoding then scales out: an Arrow-batched pandas UDF applies the
merge table greedily by rank, with a per-batch word cache (natural
corpora repeat words heavily, so each distinct word is encoded once
per batch, not once per occurrence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word marker (the classic BPE construction: distinguishes
#: "est" in "highest</w>" from "est" in "estimate")
EOW = "</w>"


def word_histogram(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """(word, n) frequency histogram over the tokenized corpus — the
    ONE distributed pass BPE training needs. ``min_count`` prunes the
    long tail (hapaxes cannot win a merge against real mass);
    ``max_words`` bounds the driver collect for adversarial corpora."""
    from clinical_data_warehouse_bi_spark.text import tokens

    hist = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    if min_count > 1:
        hist = hist.filter(F.col("n") >= min_count)
    if max_words:
        hist = hist.orderBy(F.col("n").desc(), F.col("word").asc()).limit(max_words)
    return hist


def train_bpe(
    histogram: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a (word, count) histogram:
    start from characters (+ end-of-word marker), repeatedly merge
    the most frequent adjacent symbol pair. Deterministic: ties break
    lexicographically. Pure Python by design — see module docstring.

    Incremental pair-count maintenance: each merge only touches the
    words that contain the merged pair, so training is
    O(n_merges x affected words), not O(n_merges x vocabulary)."""
    words: list[list[str]] = []
    counts: list[int] = []
    for w, c in histogram:
        if not w:
            continue
        words.append(list(w) + [EOW])
        counts.append(int(c))

    from collections import defaultdict

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(words):
        c = counts[i]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += c
            pair_words[(a, b)].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        live = {p: n for p, n in pair_counts.items() if n > 0}
        if not live:
            break
        best = min(live.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        for i in list(pair_words[best]):
            syms, c = words[i], counts[i]
            # remove this word's contribution, rewrite, re-add
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] -= c
                pair_words[(a, b)].discard(i)
            out = []
            j = 0
            while j < len(syms):
                if (
                    j + 1 < len(syms)
                    and syms[j] == best[0]
                    and syms[j + 1] == best[1]
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] += c
                pair_words[(a, b)].add(i)
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy merge-rank application to one word (the GPT-2 encoder
    loop): repeatedly merge the lowest-rank adjacent pair."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe_tokens): distributed
    encoding with the learned merge table. Arrow-batched mapInPandas;
    the merge table rides the closure (broadcast once per executor),
    and a per-batch word cache collapses repeated words to one
    encoding each. No shuffle: pure map."""
    import re

    import pandas as pd

    ranks = {tuple(p): i for i, p in enumerate(merges)}
    out_schema = f"{id_col} long, bpe_tokens array<string>, n_bpe_tokens int"
    tok_re = re.compile(r"[a-z0-9]+")

    def _encode(batches):
        for pdf in batches:
            cache: dict[str, list[str]] = {}
            ids, toks_col, n_col = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks: list[str] = []
                for w in tok_re.findall((text or "").lower()):
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w, ranks)
                        cache[w] = enc
                    toks.extend(enc)
                ids.append(did)
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame(
                {id_col: ids, "bpe_tokens": toks_col, "n_bpe_tokens": n_col}
            )

    return docs.select(id_col, text_col).mapInPandas(_encode, out_schema)
