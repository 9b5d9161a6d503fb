"""Byte-pair-encoding at corpus scale under a fixed merge table
(Sennrich et al. 2016; the GPT-2 encoder's merge-rank greedy
application).

An Arrow-batched pandas UDF applies the merge table greedily by
rank, with a per-batch word cache (natural corpora repeat words
heavily, so each distinct word is encoded once per batch, not once
per occurrence). The merge table is a frozen constant
(queries.text_ops.BPE_GATE_MERGES).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: end-of-word marker (the classic BPE construction: distinguishes
#: "est" in "highest</w>" from "est" in "estimate")
EOW = "</w>"


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
