"""BPE encoder tests under the pinned merge table
(queries.text_ops.BPE_GATE_MERGES): encode-word round-trips, the
distributed encode against a driver-side application of the same
table, and the DuckDB rewrite chain's equivalence to the greedy
loop."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import bpe
from clinical_data_warehouse_bi_spark.io import read_table
from clinical_data_warehouse_bi_spark.queries.text_ops import BPE_GATE_MERGES


def test_encode_word_roundtrip_and_compression():
    ranks = {p: i for i, p in enumerate(BPE_GATE_MERGES)}
    for w in ("query", "vector", "window", "merge", "lower", "hash"):
        syms = bpe.encode_word(w, ranks)
        assert "".join(syms) == w + bpe.EOW  # lossless
        assert len(syms) < len(w) + 1  # the table's merges compress
    # unseen word still round-trips (falls back toward characters)
    assert "".join(bpe.encode_word("zq", ranks)) == "zq" + bpe.EOW


def test_distributed_encode_matches_driver_side(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    ranks = {p: i for i, p in enumerate(BPE_GATE_MERGES)}
    got = {
        r.doc_id: (list(r.bpe_tokens), r.n_bpe_tokens)
        for r in bpe.bpe_encode(docs, BPE_GATE_MERGES).collect()
    }
    tok_re = re.compile(r"[a-z0-9]+")
    for r in docs.select("doc_id", "text").collect():
        toks = []
        for w in tok_re.findall(r.text.lower()):
            toks.extend(bpe.encode_word(w, ranks))
        assert got[r.doc_id] == (toks, len(toks)), r.doc_id
    # the table's multi-char symbols actually fire on the corpus
    assert any(len(t) > 1 and t != bpe.EOW for toks, _ in got.values() for t in toks)


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
