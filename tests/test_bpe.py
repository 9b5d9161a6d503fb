"""BPE trainer/encoder tests: the incremental-maintenance trainer
against a from-scratch naive reference, encode-word round-trips, and
the distributed encode against a driver-side application of the same
merge table."""

from __future__ import annotations

import pytest

import re
from collections import defaultdict

from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import bpe
from clinical_data_warehouse_bi_spark.io import read_table


def naive_train_bpe(histogram, n_merges):
    """Reference trainer: recount every pair from scratch each
    iteration (no incremental bookkeeping to share bugs with)."""
    words = {i: list(w) + [bpe.EOW] for i, (w, _) in enumerate(histogram) if w}
    counts = {i: c for i, (w, c) in enumerate(histogram) if w}
    merges = []
    for _ in range(n_merges):
        pc = defaultdict(int)
        for i, syms in words.items():
            for pair in zip(syms, syms[1:]):
                pc[pair] += counts[i]
        pc = {p: n for p, n in pc.items() if n > 0}
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for i, syms in words.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and (syms[j], syms[j + 1]) == best:
                    out.append(syms[j] + syms[j + 1])
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
    return merges


def test_trainer_matches_naive_reference():
    hists = [
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        [("aaaa", 4), ("aaab", 3), ("abab", 2)],
        [("x", 1)],
        [("spark", 3), ("spars", 2), ("sparse", 2), ("park", 5), ("", 9)],
    ]
    for hist in hists:
        assert bpe.train_bpe(hist, 12) == naive_train_bpe(hist, 12), hist


def test_trainer_deterministic_and_tie_stable():
    hist = [("ab", 2), ("cd", 2), ("ef", 2)]  # all pairs tie at 2
    m1 = bpe.train_bpe(hist, 3)
    m2 = bpe.train_bpe(hist, 3)
    assert m1 == m2
    # lexicographic tie-break: ('a','b') wins the first merge
    assert m1[0] == ("a", "b")


def test_encode_word_roundtrip_and_compression():
    hist = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe.train_bpe(hist, 10)
    ranks = {p: i for i, p in enumerate(merges)}
    for w, _ in hist:
        syms = bpe.encode_word(w, ranks)
        assert "".join(syms) == w + bpe.EOW  # lossless
        assert len(syms) < len(w) + 1  # learned merges compress
    # unseen word still round-trips (falls back toward characters)
    assert "".join(bpe.encode_word("zq", ranks)) == "zq" + bpe.EOW


@pytest.mark.slow
def test_distributed_encode_matches_driver_side(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    hist = [
        (r.word, r.n)
        for r in bpe.word_histogram(docs).orderBy(
            F.col("n").desc(), F.col("word").asc()
        ).collect()
    ]
    merges = bpe.train_bpe(hist, 50)
    ranks = {p: i for i, p in enumerate(merges)}
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe_tokens)
        for r in bpe.bpe_encode(docs, merges).collect()
    }
    tok_re = re.compile(r"[a-z0-9]+")
    for r in docs.select("doc_id", "text").collect():
        toks = []
        for w in tok_re.findall(r.text.lower()):
            toks.extend(bpe.encode_word(w, ranks))
        assert got[r.doc_id] == (toks, len(toks)), r.doc_id
    # the corpus histogram actually taught multi-char symbols
    assert any(len(a) + len(b) > 2 for a, b in merges)


def test_gate_oracle_sweep_equals_greedy_encode():
    """The round-16 oracle conversion's correctness core: applying
    BPE_GATE_MERGES once each, in rank order, as leftmost
    non-overlapping global rewrites (what the DuckDB regexp_replace
    chain does) equals bpe.encode_word's greedy min-rank loop — on
    every corpus word shape plus 3000 random words over the gate
    alphabet (self-overlapping runs, terminal-marker merges, unknown
    characters)."""
    import random
    import re

    from clinical_data_warehouse_bi_spark.bpe import EOW, encode_word
    from clinical_data_warehouse_bi_spark.queries.text_ops import (
        BPE_GATE_MERGES,
    )

    ranks = {tuple(p): i for i, p in enumerate(BPE_GATE_MERGES)}

    def sweep(word: str) -> list[str]:
        s = "##" + "##".join(list(word) + [EOW]) + "##"
        for a, b in BPE_GATE_MERGES:
            s = re.sub(
                "#" + re.escape(a) + "##" + re.escape(b) + "#",
                "#" + a + b + "#",
                s,
            )
        return s.strip("#").split("##")

    words = [
        "query", "vector", "window", "scan", "merge", "ordersort",
        "value", "hashhash", "aaaa", "qqq", "x", "q", "0",
    ]
    rng = random.Random(0)
    alphabet = "aeorstwcvqugh01"
    words += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(3000)
    ]
    for w in words:
        assert encode_word(w, ranks) == sweep(w), w


def test_gate_merges_are_consistent_bpe_table():
    """BPE_GATE_MERGES satisfies the rank-monotonicity the sweep
    equivalence proof needs: every non-terminal symbol a rule
    consumes is either a single character or was CREATED by an
    earlier rule — so 'apply rules once in rank order' is the greedy
    min-rank loop."""
    from clinical_data_warehouse_bi_spark.bpe import EOW
    from clinical_data_warehouse_bi_spark.queries.text_ops import (
        BPE_GATE_MERGES,
    )

    known = {EOW} | set("abcdefghijklmnopqrstuvwxyz0123456789")
    for a, b in BPE_GATE_MERGES:
        assert a in known and b in known, (a, b)
        known.add(a + b)
        assert "#" not in a + b  # the SQL wire separator stays safe
