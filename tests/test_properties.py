"""Property-based tests (hypothesis) for the operator semantics that
are easiest to get subtly wrong: interval-join pick-first determinism,
orphan-cleanup null handling, salted-join equivalence, normalization
idempotence. Each property runs a handful of randomized examples
against a brute-force in-Python model (small data: the point is the
SEMANTICS under nulls/dupes/ties, not scale — plan shape is covered
by test_plans.py)."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import joins

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
opt_keys = st.one_of(st.none(), keys)


@settings(**SETTINGS)
@given(
    fact=st.lists(opt_keys, min_size=0, max_size=12),
    dim=st.lists(keys, min_size=0, max_size=6),
)
def test_orphan_cleanup_keeps_nulls_and_matches(spark, fact, dim):
    """DWH.sql:150-177 semantics: keep fact rows whose FK is NULL or
    present in dim; drop dangling non-null FKs."""
    fact_df = spark.createDataFrame(
        [Row(i=i, fk=v) for i, v in enumerate(fact)], "i int, fk int"
    )
    dim_df = spark.createDataFrame([Row(k=k) for k in set(dim)] or [], "k int")
    got = sorted(r.i for r in joins.orphan_cleanup(fact_df, dim_df, "fk", "k").collect())
    want = sorted(i for i, v in enumerate(fact) if v is None or v in set(dim))
    assert got == want


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(keys, st.integers(0, 20), st.integers(0, 20)), min_size=0, max_size=15
    )
)
def test_interval_pick_first_is_deterministic_min(spark, rows):
    """J5/J6: for each left row, the surviving match is exactly the
    ORDER-minimal right row within the interval — never an arbitrary
    one (the MariaDB-UPDATE behavior we deliberately replace)."""
    left = spark.createDataFrame(
        [Row(lid=i, k=k, lo=lo, hi=lo + 5) for i, (k, lo, _) in enumerate(rows)] or [],
        "lid int, k int, lo int, hi int",
    )
    right = spark.createDataFrame(
        [Row(k2=k, ts=ts, rid=i) for i, (k, _, ts) in enumerate(rows)] or [],
        "k2 int, ts int, rid int",
    )
    out = joins.interval_join_pick_first(
        left,
        right,
        equi=left["k"] == right["k2"],
        ts_col=right["ts"],
        lo_col=left["lo"],
        hi_col=left["hi"],
        left_key=["lid"],
        order=[F.col("ts").asc_nulls_first(), F.col("rid").asc_nulls_first()],
    )
    got = {r.lid: (r.ts, r.rid) for r in out.collect() if r.rid is not None}
    want = {}
    for i, (k, lo, _) in enumerate(rows):
        matches = sorted(
            (ts, j)
            for j, (k2, _, ts) in enumerate(rows)
            if k2 == k and lo <= ts <= lo + 5
        )
        if matches:
            want[i] = matches[0]
    assert got == want
    # exactly one output row per left row (left join + pick-first)
    assert out.count() == len(rows)


@settings(**SETTINGS)
@given(s=st.text(alphabet=" aAbB\t.", max_size=12))
def test_normalized_key_idempotent(spark, s):
    """J4: TRIM(LOWER(x)) must be a projection fixpoint."""
    from clinical_data_warehouse_bi_spark.cleanse import normalized_key

    df = spark.createDataFrame([Row(x=s)])
    once, twice = df.select(
        normalized_key(F.col("x")).alias("a"),
        normalized_key(normalized_key(F.col("x"))).alias("b"),
    ).first()
    assert once == twice


@settings(**SETTINGS)
@given(
    points=st.lists(st.integers(0, 50), min_size=0, max_size=12),
    intervals=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 15)), min_size=0, max_size=8
    ),
    width=st.sampled_from([1, 3, 7, 16]),
)
def test_range_join_binned_equals_brute_force(spark, points, intervals, width):
    """Binned range join must equal the brute-force theta join for any
    bin width, with every true match appearing exactly once."""
    l_df = spark.createDataFrame(
        [Row(pid=i, p=p) for i, p in enumerate(points)] or [], "pid int, p int"
    )
    r_df = spark.createDataFrame(
        [Row(rid=i, lo=lo, hi=lo + ln) for i, (lo, ln) in enumerate(intervals)] or [],
        "rid int, lo int, hi int",
    )
    got = sorted(
        (r.pid, r.rid)
        for r in joins.range_join_binned(l_df, r_df, "p", "lo", "hi", width).collect()
    )
    want = sorted(
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, ln) in enumerate(intervals)
        if lo <= p <= lo + ln
    )
    assert got == want


@settings(**SETTINGS)
@given(
    rows=st.lists(st.integers(min_value=-100, max_value=100), min_size=0, max_size=40),
    nparts=st.integers(min_value=1, max_value=7),
)
def test_zip_index_key_dense_unique(spark, rows, nparts):
    """zip_index_key must assign exactly the keys 1..N (dense, unique)
    for any input size and partitioning, and preserve the row
    multiset."""
    from clinical_data_warehouse_bi_spark.keys import zip_index_key

    df = spark.createDataFrame(
        [Row(v=v) for v in rows] or [], "v int"
    ).repartition(nparts)
    out = zip_index_key(df, "k").collect()
    assert sorted(r.k for r in out) == list(range(1, len(rows) + 1))
    assert sorted(r.v for r in out) == sorted(rows)


def _near_hashes(bits: int):
    """Lists of ``bits``-bit hashes clustered around one base (each a
    few bit flips away), stored as the signed long a Spark column
    holds — so pairs fall on both sides of a small Hamming radius."""
    flips = st.lists(st.integers(0, bits - 1), max_size=bits // 4)

    def build(base, fl):
        out = []
        for f in fl:
            h = base
            for bit in f:
                h ^= 1 << bit
            out.append(h - (1 << 64) if h >= 1 << 63 else h)
        return out

    return st.builds(
        build, st.integers(0, (1 << bits) - 1), st.lists(flips, min_size=2, max_size=16)
    )


@settings(**SETTINGS)
@given(
    fps=st.lists(
        st.integers(min_value=0, max_value=(1 << 32) - 1), min_size=2, max_size=24
    ),
    near32=_near_hashes(32),
    near64=_near_hashes(64),
)
def test_simhash_band_join_exact_for_k3(spark, fps, near32, near64):
    """Banding is EXACT below the band count (pigeonhole): k differing
    bits spoil at most k bands. text.hamming_pairs must find precisely
    the brute-force pairs for SimHash's 4x8 bands over 32 bits at
    radius 3, and for pHash's 8x8 bands over signed 64-bit hashes
    (the sign bit set or flipped) at radius 6."""
    from clinical_data_warehouse_bi_spark.text import hamming_pairs

    for hashes, bits, n_bands, k in (
        (fps, 32, 4, 3), (near32, 32, 4, 3), (near64, 64, 8, 6),
    ):
        df = spark.createDataFrame(
            [Row(doc_id=i, h=v) for i, v in enumerate(hashes)],
            "doc_id int, h long",
        )
        got = sorted(map(tuple, hamming_pairs(df, "h", bits, n_bands, k).collect()))
        want = sorted(
            (i, j, d)
            for i in range(len(hashes))
            for j in range(i + 1, len(hashes))
            if (d := bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")) <= k
        )
        assert got == want, (bits, hashes)


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    """Observed per-stratum rates track the configured rates (binomial
    3-sigma), and the sample is bit-identical across runs (hash
    threshold, not rand())."""
    import math

    from clinical_data_warehouse_bi_spark.io import read_table
    from clinical_data_warehouse_bi_spark.queries.core import (
        SAMPLE_RATES,
        q_stratified_sample,
    )

    totals = {
        r["event_type"]: r["n"]
        for r in read_table(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["event_type"]: r["n"]
        for r in q_stratified_sample(spark, sf_dir)
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for t, rate in SAMPLE_RATES.items():
        n = totals[t]
        expect = rate * n
        sigma = math.sqrt(n * rate * (1 - rate))
        assert abs(got.get(t, 0) - expect) <= 3 * sigma + 1, (t, got.get(t), expect)
    again = {
        r["event_type"]: r["n"]
        for r in q_stratified_sample(spark, sf_dir)
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == again


def test_random_hyperplane_recall_beats_axis_aligned(spark):
    """VERDICT r2 gap #4: axis-aligned sign-LSH loses recall when
    embedding dims are correlated/anisotropic (variance concentrated
    in a few components — the shape of real embeddings, where minor
    dims' sign bits are noise between near-duplicates). The seeded
    Rademacher projection mixes the dominant dims into every plane,
    so near-dup pairs keep colliding. Planted-pair recall must show
    the ordering."""
    import numpy as np

    from clinical_data_warehouse_bi_spark.queries.similarity import (
        EMB_DIMS,
        LSH_BANDS,
        LSH_BAND_BITS,
    )
    from clinical_data_warehouse_bi_spark.similarity import (
        axis_matrix,
        rademacher_matrix,
        sign_lsh_bands,
    )

    rng = np.random.RandomState(7)
    n_pairs = 150
    # anisotropic base: 4 dominant dims (unit variance), 60 minor dims
    # (sigma 0.01); near-dup partner adds per-dim noise at the minor
    # dims' own scale — partners agree on dominant structure, minor
    # dims' signs are coin flips
    scale = np.array([1.0] * 4 + [0.01] * (EMB_DIMS - 4))
    base = rng.randn(n_pairs, EMB_DIMS) * scale
    partner = base + rng.randn(n_pairs, EMB_DIMS) * 0.01
    vecs = []
    for i in range(n_pairs):
        vecs.append((2 * i, [float(x) for x in base[i]]))
        vecs.append((2 * i + 1, [float(x) for x in partner[i]]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    planes = LSH_BANDS * LSH_BAND_BITS

    def recall(matrix) -> float:
        rows = sign_lsh_bands(df, matrix, LSH_BANDS, LSH_BAND_BITS).collect()
        sig = {(r["vec_id"], r["band"]): r["sig"] for r in rows}
        hits = sum(
            1
            for i in range(n_pairs)
            if any(
                sig[(2 * i, j)] == sig[(2 * i + 1, j)] for j in range(LSH_BANDS)
            )
        )
        return hits / n_pairs

    r_axis = recall(axis_matrix(planes, EMB_DIMS))
    r_rot = recall(rademacher_matrix(1803, planes, EMB_DIMS))
    assert r_rot >= r_axis, (r_rot, r_axis)
    assert r_rot - r_axis > 0.3, (r_rot, r_axis)  # decisive, not a tie
    assert r_rot > 0.6, r_rot


def test_range_join_streaming_requires_explicit_bin_width(spark, tmp_path):
    """bin_width=None self-tunes via an eager scan of `right` — must
    raise a clear error on a streaming right side (ADVICE r2)."""
    import pytest

    from clinical_data_warehouse_bi_spark.joins import range_join_binned

    spark.createDataFrame([(0, 5)], "lo long, hi long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "r"))
    stream = spark.readStream.schema("lo long, hi long").parquet(
        str(tmp_path / "r")
    )
    left = spark.createDataFrame([(1, 3)], "pid long, p long")
    with pytest.raises(ValueError, match="bin_width"):
        range_join_binned(left, stream, "p", "lo", "hi")


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=20
    ),
    isolated=st.lists(st.integers(0, 15), min_size=0, max_size=5),
)
def test_connected_components_match_union_find(spark, edges, isolated):
    """Min-label propagation must agree with a brute-force union-find
    for any graph, including self-loops, duplicate edges, and
    isolated vertices (singleton components)."""
    from clinical_data_warehouse_bi_spark.graph import connected_components

    e_df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges] or [], "src long, dst long"
    )
    v_ids = sorted({v for e in edges for v in e} | set(isolated))
    v_df = spark.createDataFrame([Row(id=v) for v in v_ids] or [], "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(e_df, vertices=v_df).collect()
    }

    parent = {v: v for v in v_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for v in v_ids:
        root = find(v)
        want[v] = min(u for u in v_ids if find(u) == root)
    assert got == want


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=20
    ),
    isolated=st.lists(st.integers(0, 15), min_size=0, max_size=5),
)
def test_star_components_match_union_find(spark, edges, isolated):
    """The large-star/small-star fallback must agree with brute-force
    union-find on arbitrary graphs — same contract as label
    propagation, which hands deep graphs to it."""
    from clinical_data_warehouse_bi_spark.graph import _star_components

    e_df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges] or [], "src long, dst long"
    )
    v_ids = sorted({v for e in edges for v in e} | set(isolated))
    v_df = spark.createDataFrame([Row(id=v) for v in v_ids] or [], "id long")
    got = {
        r["id"]: r["component"]
        for r in _star_components(e_df, v_df, "src", "dst").collect()
    }

    parent = {v: v for v in v_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for v in v_ids:
        root = find(v)
        want[v] = min(u for u in v_ids if find(u) == root)
    assert got == want


def test_deep_chain_converges_via_star_fallback(spark):
    """A path graph far deeper than the propagation round budget must
    still return correct components: propagation PLATEAU-bails to
    large-star/small-star after a few non-halving rounds (NOT after
    burning all MAX_LABEL_PROP_ROUNDS actions — each propagation round
    is a full job barrier), and star converges in O(log^2 n) rounds
    regardless of the 80-hop diameter."""
    from clinical_data_warehouse_bi_spark.graph import connected_components

    n = 80  # diameter 79 >> any reasonable round budget
    e_df = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in connected_components(e_df, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # a chain's changed-count shrinks by ~1/round, never halving: the
    # plateau heuristic must bail at its 4-round window, not at 25
    assert stats["fell_back"] is True
    assert stats["label_prop_rounds"] <= 6


def test_shallow_graph_converges_without_fallback(spark):
    """The dedup-cluster shape (stars of duplicates around a common
    ancestor) must keep converging inside label propagation — the
    plateau heuristic may never trigger on it (its changed-count hits
    zero within a few rounds)."""
    from clinical_data_warehouse_bi_spark.graph import connected_components

    edges = [Row(src=h, dst=h * 100 + i) for h in (1, 2, 3) for i in range(1, 6)]
    e_df = spark.createDataFrame(edges, "src long, dst long")
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in connected_components(e_df, stats=stats).collect()
    }
    want = {h: h for h in (1, 2, 3)}
    want.update({h * 100 + i: h for h in (1, 2, 3) for i in range(1, 6)})
    assert got == want
    assert stats["fell_back"] is False
    assert stats["label_prop_rounds"] <= 4


def test_pack_sequences_offsets_contiguous(spark, sf_dir):
    """Packing invariants per shard: offsets start at 0, each doc
    begins exactly where the previous ended (no token gaps or
    overlaps — the property that makes concat-and-chunk training
    batches valid), and chunk spans match the offset arithmetic."""
    from clinical_data_warehouse_bi_spark.queries.text_ops import (
        PACK_CTX,
        q_pack_sequences,
    )

    rows = q_pack_sequences(spark, sf_dir).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert by_shard
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in docs:
            assert r.tok_offset == expect, (shard, r)
            assert r.n_tokens > 0
            assert r.first_chunk == r.tok_offset // PACK_CTX
            assert r.last_chunk == (r.tok_offset + r.n_tokens - 1) // PACK_CTX
            assert r.n_chunks == r.last_chunk - r.first_chunk + 1
            expect += r.n_tokens


def test_scd2_intervals_partition_history(spark, sf_dir):
    """SCD2 invariants per customer: versions are ordered, half-open
    validity intervals chain exactly (valid_to == next valid_from),
    exactly one current version (NULL valid_to), and consecutive
    versions always differ in state (change compression)."""
    from clinical_data_warehouse_bi_spark.queries.windows import q_scd2_dim

    rows = q_scd2_dim(spark, sf_dir).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.customer_id, []).append(r)
    assert by_cust
    for cust, vers in by_cust.items():
        vers.sort(key=lambda r: r.valid_from)
        currents = [r for r in vers if r.valid_to is None]
        assert len(currents) == 1, cust
        assert vers[-1].valid_to is None
        for a, b in zip(vers, vers[1:]):
            assert a.valid_to == b.valid_from, (cust, a, b)
            assert a.state != b.state, (cust, a, b)
            assert a.is_current is False


def test_chunk_dedup_idempotent_and_exhaustive(spark, sf_dir):
    """Re-applying chunk_dedup to its own output must remove nothing
    (every surviving chunk is globally unique, and chunk boundaries
    are preserved because only trailing chunks are partial), and the
    total kept-chunk count must equal the number of DISTINCT chunks
    in the corpus — dedup removes exactly the duplicates, no more."""
    from clinical_data_warehouse_bi_spark import text as T
    from clinical_data_warehouse_bi_spark.io import load_tables
    from clinical_data_warehouse_bi_spark.queries.dedup import CHUNK_TOKENS

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    once = T.chunk_dedup(docs, chunk_tokens=CHUNK_TOKENS).cache()

    # exhaustive: sum(n_kept) == count of distinct chunk strings
    n_kept_total = once.agg(F.sum("n_kept")).first()[0]
    distinct_chunks = (
        docs.select(T.tokens("text").alias("w"))
        .filter(F.size("w") > 0)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast((size(w) + {CHUNK_TOKENS - 1})"
                    f" div {CHUNK_TOKENS} as int) - 1),"
                    f" i -> concat_ws(' ', slice(w, i*{CHUNK_TOKENS}+1, {CHUNK_TOKENS})))"
                )
            ).alias("chunk")
        )
        .distinct()
        .count()
    )
    assert n_kept_total == distinct_chunks

    # idempotence: second application keeps every chunk of every doc
    twice = T.chunk_dedup(
        once.select("doc_id", F.col("clean_text").alias("text")),
        chunk_tokens=CHUNK_TOKENS,
    )
    changed = twice.filter(F.col("n_kept") != F.col("n_chunks")).count()
    assert changed == 0
    # and the rebuilt text itself is a fixed point
    joined = (
        once.select("doc_id", F.col("clean_text").alias("t1"))
        .join(twice.select("doc_id", F.col("clean_text").alias("t2")), "doc_id")
        .filter(F.col("t1") != F.col("t2"))
    )
    assert joined.count() == 0
    once.unpersist()


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def test_fuzzy_blocked_pairs_match_brute_force(spark):
    """fuzzy_blocked_pairs must equal the brute-force model: all
    a<b pairs within equal blocks at edit distance <= k — including
    pairs the length-band prune must NOT lose (distance exactly k via
    pure insertions) and excluding cross-block near-identical names."""
    rows = [
        # block (1, 'A'): a typo cluster
        (1, "mercer", 1, "A"),
        (2, "merced", 1, "A"),     # sub, dist 1
        (3, "mercersburg", 1, "A"),  # 6 inserts, dist 6: pruned
        (4, "merce", 1, "A"),      # deletion, dist 1
        (5, "xavier", 1, "A"),     # far
        # same name, different block: must NOT pair with doc 1
        (6, "mercer", 2, "A"),
        (7, "mercer!!", 2, "A"),   # dist 2 from mercer via 2 inserts
        # block (1, 'B')
        (8, "smith", 1, "B"),
        (9, "smyth", 1, "B"),      # dist 1
        (10, "smithee", 1, "B"),   # dist 2 (2 inserts — length-band edge)
    ]
    df = spark.createDataFrame(rows, "id bigint, name string, nk int, seg string")
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in joins.fuzzy_blocked_pairs(
            df, id_col="id", name_col="name", block_cols=["nk", "seg"], max_dist=2
        ).collect()
    }
    expected = set()
    for i, (ia, na, ka, sa) in enumerate(rows):
        for ib, nb, kb, sb in rows[i + 1:]:
            if (ka, sa) == (kb, sb) and ia < ib:
                d = _lev(na, nb)
                if d <= 2:
                    expected.add((ia, ib, d))
    assert got == expected
    assert (6, 7, 2) in expected  # the pure-insertion distance-2 pair survived


def test_paragraph_dedup_matches_python_model(spark):
    """paragraph_dedup vs a direct Python model on constructed docs:
    within-doc repeats, cross-doc repeats, whitespace-only lines,
    docs reduced to empty, and delimiter preservation."""
    from clinical_data_warehouse_bi_spark import text as T

    docs = [
        (1, "intro\ncommon disclaimer\nbody one"),
        (2, "common disclaimer\nbody two\n\n  \nbody two"),
        (3, "common disclaimer"),
        (4, "   \n\n"),
        (5, "intro\nbody one"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.clean_text)
        for r in T.paragraph_dedup(df).collect()
    }

    seen: set[str] = set()
    expect = {}
    for did, text in docs:
        units = text.split("\n")
        nonempty = [u for u in units if u.strip() != ""]
        kept = []
        for u in units:
            if u.strip() == "":
                continue
            if u not in seen:
                seen.add(u)
                kept.append(u)
        expect[did] = (len(nonempty), len(kept), "\n".join(kept))
    assert got == expect
    # the interesting cases really occurred
    assert expect[2][1] == 1  # cross-doc dup dropped + in-doc repeat dropped
    assert expect[3] == (1, 0, "")  # doc reduced to empty
    assert expect[4] == (0, 0, "")  # whitespace-only doc

    # idempotence on the rebuilt corpus
    rebuilt = spark.createDataFrame(
        [(k, v[2]) for k, v in expect.items()], "doc_id long, text string"
    )
    again = {
        r.doc_id: (r.n_paras, r.n_kept, r.clean_text)
        for r in T.paragraph_dedup(rebuilt).collect()
    }
    for did, (np_, nk, ct) in again.items():
        assert np_ == nk and ct == expect[did][2], (did, again[did])


def test_funnel_matches_duckdb_sequential_min(spark, sf_dir, duck):
    """funnel_steps' greedy fold vs the declarative sequential-min
    definition in DuckDB (correlated mins with strict progression) on
    the real events table — every user, every step timestamp."""
    from clinical_data_warehouse_bi_spark.funnel import funnel_steps
    from clinical_data_warehouse_bi_spark.io import read_table

    ev = read_table(spark, sf_dir, "events")
    got = {
        r.user_id: (r.steps_completed, r.step_1_ts, r.step_2_ts, r.step_3_ts)
        for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()
    }
    oracle = duck.execute("""
        WITH u AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type IN ('view','click','purchase')),
        s1 AS (SELECT u.user_id,
                 (SELECT min(ts) FROM events e WHERE e.user_id = u.user_id
                    AND e.event_type = 'view') AS ts1 FROM u),
        s2 AS (SELECT s1.*,
                 (SELECT min(ts) FROM events e WHERE e.user_id = s1.user_id
                    AND e.event_type = 'click' AND e.ts > s1.ts1) AS ts2 FROM s1),
        s3 AS (SELECT s2.*,
                 (SELECT min(ts) FROM events e WHERE e.user_id = s2.user_id
                    AND e.event_type = 'purchase' AND e.ts > s2.ts2) AS ts3 FROM s2)
        SELECT user_id, ts1, ts2, ts3 FROM s3
    """).fetchall()
    assert len(got) == len(oracle)
    for user_id, ts1, ts2, ts3 in oracle:
        n = 3 if ts3 else (2 if ts2 else (1 if ts1 else 0))
        assert got[user_id] == (n, ts1, ts2, ts3), (user_id, got[user_id], (n, ts1, ts2, ts3))
    # the fixture actually exercises full completion
    assert any(v[0] == 3 for v in got.values())


def test_funnel_steps_escapes_quoted_step_names(spark):
    """Step names are data: one containing a single quote (and a
    backslash) must flow through the fold expression intact rather
    than breaking the SQL parse (round-7 advice)."""
    from datetime import datetime

    from clinical_data_warehouse_bi_spark.funnel import funnel_steps

    s1, s2 = "add'l info", "done\\now"
    ev = spark.createDataFrame(
        [
            (1, s1, datetime(2024, 1, 1, 10)),
            (1, s2, datetime(2024, 1, 1, 11)),
            (2, s2, datetime(2024, 1, 1, 9)),  # wrong order: stalls at 0
        ],
        "user_id long, event_type string, ts timestamp",
    )
    got = {
        r.user_id: r.steps_completed
        for r in funnel_steps(ev, [s1, s2]).collect()
    }
    assert got == {1: 2, 2: 0}


def test_paragraph_dedup_regex_metachar_delimiter(spark):
    """A '.' or '|' delimiter must split on the literal character,
    not per-character as a regex (round-7 advice), and the rebuild
    must re-join with the same literal."""
    from clinical_data_warehouse_bi_spark import text as T

    docs = spark.createDataFrame(
        [(1, "alpha.common.beta"), (2, "common.gamma")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.clean_text)
        for r in T.paragraph_dedup(docs, delim=".").collect()
    }
    assert got[1] == (3, 3, "alpha.common.beta")
    assert got[2] == (2, 1, "gamma")

    pipe = spark.createDataFrame(
        [(1, "a|b"), (2, "b|c")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.clean_text
        for r in T.paragraph_dedup(pipe, delim="|").collect()
    }
    assert got == {1: "a|b", 2: "c"}


def test_lm_perplexity_semantics(spark):
    """Planted corpus: a document made of the corpus's dominant
    pattern must score LOWER perplexity than a document of unique
    gibberish; sub-2-token docs score NULL."""
    from clinical_data_warehouse_bi_spark import lm

    common = "the cat sat on the mat " * 10
    docs = spark.createDataFrame(
        [
            (1, common),
            (2, common),
            (3, "zq xv qj wk vz kx jq"),  # unseen-elsewhere bigrams
            (4, "word"),  # single token -> no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.ppl) for r in lm.perplexity(docs).collect()}
    assert got[4][1] is None and got[4][0] == 1
    assert got[1][1] == got[2][1]  # identical docs, identical score
    assert got[1][1] < got[3][1]  # fluent << gibberish


def test_quota_sample_matches_duckdb(spark, sf_dir, duck):
    """text.quota_sample vs the same row_number construction in
    DuckDB on the real documents table: identical kept doc set under
    the md5-of-id priority."""
    from clinical_data_warehouse_bi_spark import text as T
    from clinical_data_warehouse_bi_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = sorted(
        r.doc_id for r in T.quota_sample(docs, "source", 30).collect()
    )
    want = sorted(
        r[0]
        for r in duck.execute("""
            SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (
                PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents) t WHERE rn <= 30
        """).fetchall()
    )
    assert got == want and len(got) > 0
    # every group capped, none emptied
    from collections import Counter

    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    by_group = Counter(src[d] for d in got)
    assert max(by_group.values()) <= 30
    assert set(by_group) == set(src.values())


def test_cohort_retention_matches_duckdb(spark, sf_dir, duck):
    """funnel.cohort_retention vs the same cohort construction in
    DuckDB over the real events table: identical retention matrix."""
    from clinical_data_warehouse_bi_spark.funnel import cohort_retention
    from clinical_data_warehouse_bi_spark.io import read_table

    ev = read_table(spark, sf_dir, "events")
    got = {
        (str(r.cohort), r.month_offset): r.n_active
        for r in cohort_retention(ev).collect()
    }
    want = {
        (str(c), int(o)): n
        for c, o, n in duck.execute("""
            WITH c AS (SELECT user_id,
                              date_trunc('day', min(ts)) AS cohort
                       FROM events GROUP BY user_id),
            a AS (SELECT DISTINCT e.user_id, c.cohort,
                         datediff('day', c.cohort,
                                  date_trunc('day', e.ts)) AS off
                  FROM events e JOIN c USING (user_id))
            SELECT CAST(cohort AS DATE), off, count(*)
            FROM a GROUP BY 1, 2
        """).fetchall()
    }
    assert got == want and len(got) > 0
    # offset-0 row exists for every cohort (a user is active on their
    # own first day by construction)
    assert all((c, 0) in got for c, _ in got)


def test_resample_fill_matches_duckdb(spark, sf_dir, duck):
    """timeseries.resample_fill vs DuckDB generate_series + window
    forward-fill on real per-user daily event values: dense grid,
    exact bucket sums, ffill semantics."""
    from clinical_data_warehouse_bi_spark.io import read_table
    from clinical_data_warehouse_bi_spark.timeseries import resample_fill

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    got = {
        (r.user_id, str(r.bucket)): (r.n_obs, r.value)
        for r in resample_fill(ev).collect()
    }
    want = {}
    for u, b, n, v in duck.execute("""
        WITH ob AS (
          SELECT user_id, date_trunc('day', ts) AS b,
                 count(*) AS n, sum(value) AS v
          FROM events WHERE user_id < 30 GROUP BY 1, 2),
        spans AS (SELECT user_id, min(b) AS lo, max(b) AS hi
                  FROM ob GROUP BY 1),
        grid AS (SELECT user_id, unnest(generate_series(lo, hi,
                        INTERVAL 1 DAY)) AS b FROM spans),
        dense AS (
          SELECT g.user_id, g.b, coalesce(ob.n, 0) AS n, ob.v
          FROM grid g LEFT JOIN ob
            ON ob.user_id = g.user_id AND ob.b = g.b)
        SELECT user_id, b, n,
               last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY b
                 ROWS UNBOUNDED PRECEDING) AS v
        FROM dense
    """).fetchall():
        want[(u, str(b))] = (n, v)
    assert set(got) == set(want)
    for k in want:
        gn, gv = got[k]
        wn, wv = want[k]
        assert gn == wn, (k, got[k], want[k])
        assert (gv is None) == (wv is None), (k, got[k], want[k])
        if wv is not None:
            assert abs(gv - wv) < 1e-9, (k, got[k], want[k])
    # the grid really is dense, with gaps for the fill to cover
    import collections

    per_user = collections.Counter(u for u, _ in got)
    assert max(per_user.values()) > 1
    assert any(n == 0 for n, _ in got.values()), "fixture produced no gap buckets"


@settings(**SETTINGS)
@given(
    obs=st.lists(
        st.tuples(
            st.integers(0, 3),          # key
            st.integers(0, 12),         # day offset
            st.integers(-5, 5),         # value
        ),
        min_size=1,
        max_size=25,
    ),
)
def test_resample_fill_matches_python_model(spark, obs):
    """resample_fill vs a direct Python model on random sparse
    series: dense per-key grid over the key's own span, bucket sums,
    and forward-filled gaps — including duplicate observations in
    one bucket and single-observation keys."""
    from datetime import datetime, timedelta

    from clinical_data_warehouse_bi_spark.timeseries import resample_fill

    base = datetime(2024, 5, 1)
    rows = [
        (k, base + timedelta(days=d, hours=(v % 3)), float(v))
        for k, d, v in obs
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r.user_id, r.bucket.date()): (r.n_obs, r.value)
        for r in resample_fill(df).collect()
    }

    want = {}
    by_key: dict[int, dict] = {}
    for k, ts, v in rows:
        by_key.setdefault(k, {}).setdefault(ts.date(), []).append(v)
    for k, buckets in by_key.items():
        lo, hi = min(buckets), max(buckets)
        last = None
        d = lo
        while d <= hi:
            vs = buckets.get(d)
            if vs is not None:
                last = sum(vs)
                want[(k, d)] = (len(vs), last)
            else:
                want[(k, d)] = (0, last)
            d += timedelta(days=1)
    assert set(got) == set(want)
    for key in want:
        gn, gv = got[key]
        wn, wv = want[key]
        assert gn == wn, (key, got[key], want[key])
        if wv is None:
            assert gv is None, (key, got[key], want[key])
        else:
            assert gv is not None and abs(gv - wv) < 1e-9, (
                key, got[key], want[key],
            )


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 3)),  # (id, group)
        min_size=0,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(1, 5),
)
def test_quota_sample_idempotent_and_capped(spark, docs, n):
    """quota_sample is deterministic, idempotent (re-capping the
    capped output changes nothing), and never exceeds n per group or
    drops a group entirely."""
    from collections import Counter

    from clinical_data_warehouse_bi_spark import text as T

    df = spark.createDataFrame(
        [(i, f"g{g}") for i, g in docs] or [], "doc_id long, source string"
    )
    once = T.quota_sample(df, "source", n)
    ids1 = sorted(r.doc_id for r in once.collect())
    ids2 = sorted(r.doc_id for r in T.quota_sample(df, "source", n).collect())
    assert ids1 == ids2  # deterministic
    twice = sorted(
        r.doc_id for r in T.quota_sample(once, "source", n).collect()
    )
    assert twice == ids1  # idempotent
    by_g = Counter(g for i, g in docs if i in set(ids1))
    groups = {g for _, g in docs}
    assert all(v <= n for v in by_g.values())
    assert {g for g in by_g} == groups or not docs


# ------------------------------------------------- word shingles --


def _py_shingles(text):
    """The shingle contract in plain Python: lowercase alphanumeric
    tokens, every run of 3 joined by one space, none under 3 tokens."""
    import re

    toks = re.findall("[a-z0-9]+", text.lower()) if text is not None else []
    return [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]


def test_word_shingles_match_python_model(spark):
    """word_shingles over a bound token column and shingled over raw
    text agree with the Python model on the edge inputs: empty, NULL,
    punctuation-only, short, exactly-3 and repeated-token documents.
    NULL and short documents yield an empty array and no rows."""
    from clinical_data_warehouse_bi_spark import text as T

    docs = [
        (1, ""),
        (2, None),
        (3, "?! ... --"),
        (4, "Two words."),
        (5, "exactly three tokens"),
        (6, "the the THE, the the"),
        (7, "A-b c d e"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    arrays = {
        r.doc_id: r.sh
        for r in df.select("doc_id", T.tokens("text").alias("t"))
        .select("doc_id", T.word_shingles("t", 3).alias("sh"))
        .collect()
    }
    assert arrays == {d: _py_shingles(t) for d, t in docs}
    assert arrays[2] == [] and arrays[4] == []
    assert arrays[6] == ["the the the"] * 3

    rows = sorted((r.doc_id, r.sh) for r in T.shingled(df).collect())
    assert rows == sorted((d, s) for d, t in docs for s in _py_shingles(t))
    assert {d for d, _ in rows} == {5, 6, 7}


# ------------------------- content-defined chunk dedup (CDC, r8) --

from clinical_data_warehouse_bi_spark import text as T  # noqa: E402
from clinical_data_warehouse_bi_spark.io import read_table  # noqa: E402

_CDC_BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu one two three four five "
    "six seven eight nine ten"
)


def test_cdc_chunk_dedup_survives_prefix_insertion(spark):
    """The CDC contract: inserting a prefix shifts every fixed-window
    chunk (fixed dedup finds NOTHING to remove from the copy) but
    leaves content-defined boundaries downstream intact (CDC removes
    the shared tail)."""
    docs = spark.createDataFrame(
        [(0, _CDC_BASE), (1, "inserted prefix words here " + _CDC_BASE)],
        ["doc_id", "text"],
    )
    cdc = {r["doc_id"]: r for r in T.cdc_chunk_dedup(docs).collect()}
    fixed = {r["doc_id"]: r for r in T.chunk_dedup(docs).collect()}
    # fixed windows: the shifted copy shares no chunk with the original
    assert fixed[1]["n_kept"] == fixed[1]["n_chunks"]
    # CDC: most of the copy's chunks resynchronize and dedup away
    assert cdc[1]["n_kept"] < cdc[1]["n_chunks"]
    assert cdc[1]["n_kept"] <= fixed[1]["n_kept"] - 1
    # the original is globally first: it keeps everything
    assert cdc[0]["n_kept"] == cdc[0]["n_chunks"]


def test_cdc_chunk_dedup_exact_copy_fully_removed(spark):
    docs = spark.createDataFrame(
        [(0, _CDC_BASE), (1, _CDC_BASE)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in T.cdc_chunk_dedup(docs).collect()}
    assert got[0]["n_kept"] == got[0]["n_chunks"]
    assert got[1]["n_kept"] == 0 and got[1]["clean_text"] == ""


def test_cdc_chunk_dedup_lossless_without_duplicates(spark):
    """A corpus with no repeated chunks reconstructs verbatim (the
    chunks partition the token stream)."""
    docs = spark.createDataFrame([(0, _CDC_BASE)], ["doc_id", "text"])
    r = T.cdc_chunk_dedup(docs).first()
    assert r["n_kept"] == r["n_chunks"]
    assert r["clean_text"] == _CDC_BASE


def test_cdc_chunk_dedup_deterministic(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(200)
    a = sorted(map(tuple, T.cdc_chunk_dedup(docs).collect()))
    b = sorted(map(tuple, T.cdc_chunk_dedup(docs).collect()))
    assert a == b


def test_cdc_chunk_dedup_text_never_shuffles(spark, sf_dir):
    """Same scale contract as q_chunk_dedup: only the slim
    (id, pos, h1, h2) relation reaches a keyed exchange — never the
    text, token array, or chunk-string array __units."""
    from test_plans import _exchange_blocks

    docs = read_table(spark, sf_dir, "documents")
    blocks = [
        b
        for b in _exchange_blocks(T.cdc_chunk_dedup(docs))
        if "RoundRobinPartitioning" not in b
    ]
    assert blocks, "expected at least one keyed exchange (keep-first window)"
    for b in blocks:
        assert "text#" not in b, b
        assert " w#" not in b and "[w#" not in b, b
        assert "__units#" not in b, b


#: degenerate and duplicate-bearing documents for the unit dedups:
#: NULL, empty, whitespace-only and punctuation-only text (no units),
#: a one-token document whose token is itself a CDC cut (md5 prefix
#: = 0 mod 8), repeated words, an exact copy and a shifted copy
_UNIT_DEDUP_DOCS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "!!! ... ???"),
    (5, "beta"),
    (6, "nu nu  nu"),
    (7, "alpha gamma delta omega sigma kappa theta zeta iota rho tau phi"),
    (8, "alpha gamma delta omega sigma kappa theta zeta iota rho tau phi"),
    (9, "chi psi alpha gamma delta omega sigma kappa theta zeta iota rho"),
    (10, "beta"),
]


def test_unit_dedups_match_their_oracles_on_degenerate_docs(spark):
    """chunk_dedup, paragraph_dedup and cdc_chunk_dedup each return one
    row per document, rows equal to their own DuckDB oracle over a
    tiny documents table: a document with no units is (id, 0, 0, ''),
    a one-token document is one chunk, and repeats keep their first
    occurrence."""
    import duckdb
    import pandas as pd

    from clinical_data_warehouse_bi_spark.queries import dedup as D
    from clinical_data_warehouse_bi_spark.registry import auditable_oracles
    from scripts.check_parity import normalize

    docs = spark.createDataFrame(_UNIT_DEDUP_DOCS, "doc_id bigint, text string")
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(_UNIT_DEDUP_DOCS, columns=["doc_id", "text"])
    )
    cases = [
        (T.chunk_dedup(docs, chunk_tokens=D.CHUNK_TOKENS), D.SQL_CHUNK_DEDUP),
        (T.paragraph_dedup(docs, delim=" "), D.SQL_PARAGRAPH_DEDUP),
        (
            T.cdc_chunk_dedup(
                docs, hash_window=D.CDC_WINDOW, divisor=D.CDC_DIVISOR
            ),
            auditable_oracles()["q_cdc_chunk_dedup"],
        ),
    ]
    try:
        for got, sql in cases:
            want = normalize(con.execute(sql).df())
            assert normalize(got.toPandas()) == want
            assert len(want[1]) == len(_UNIT_DEDUP_DOCS)
    finally:
        con.close()


def test_weighted_sample_matches_duckdb_twin(spark, sf_dir, duck):
    """The A-ES priority sample is engine-portable: DuckDB recomputes
    the identical sample from the same md5-derived uniforms."""
    docs = read_table(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id", ((F.col("doc_id") % 7) + 1).cast("double").alias("w")
    )
    got = sorted(
        r["doc_id"]
        for r in T.weighted_sample(weighted, 50, "w").collect()
    )
    want = sorted(
        r[0]
        for r in duck.execute("""
            SELECT doc_id FROM (
              SELECT doc_id,
                     pow((('0x' || substr(md5('ws0:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1.0)
                         / 4294967297.0,
                         1.0 / ((doc_id % 7) + 1.0)) AS pri
              FROM documents)
            ORDER BY pri DESC, doc_id ASC LIMIT 50
        """).fetchall()
    )
    assert got == want


def test_weighted_sample_favors_heavy_weights(spark):
    """Inclusion frequency tracks weight: across many disjoint seeds,
    a weight-9 row appears far more often than a weight-1 row."""
    rows = [(i, 9.0 if i < 10 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    heavy = light = 0
    for s in range(15):
        ids = {r["doc_id"] for r in T.weighted_sample(df, 20, "w", seed=f"s{s}").collect()}
        heavy += sum(1 for i in ids if i < 10)
        light += sum(1 for i in ids if i >= 10)
    # 10 heavy rows at w=9 vs 90 light at w=1: heavy per-row rate
    # must dominate light per-row rate decisively
    assert heavy / 10 > 3 * (light / 90)


def test_weighted_sample_deterministic_and_excludes_nonpositive(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -2.0), (4, 5.0), (5, 2.0)], ["doc_id", "w"]
    )
    a = sorted(r["doc_id"] for r in T.weighted_sample(df, 3, "w").collect())
    b = sorted(r["doc_id"] for r in T.weighted_sample(df, 3, "w").collect())
    assert a == b == sorted(a)
    assert 2 not in a and 3 not in a  # nonpositive weights excluded
    assert len(a) == 3


def test_er_to_golden_record_composition(spark):
    """The MDM path up to the golden record: fuzzy pairs -> connected
    components — three planted patient spellings share ONE component
    and the other records stay alone."""
    from clinical_data_warehouse_bi_spark import graph

    recs = [
        # one real patient, three spellings, partial fields
        (1, "jon smith", "1990", None, "j@x.io"),
        (2, "john smith", "1990", "Boston", None),
        (3, "jhn smith", "1990", "Boston MA", None),
        # a distinct patient in the same block
        (4, "mary smith", "1990", "Salem", "m@x.io"),
        # and one in another block
        (5, "li wei", "1985", "Quincy", None),
    ]
    df = spark.createDataFrame(
        recs, "rec_id long, name string, birth_year string,"
        " city string, email string"
    )
    pairs = joins.fuzzy_blocked_pairs(
        df, "rec_id", "name", ["birth_year"], max_dist=2
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = {
        r["id"]: r["component"]
        for r in graph.connected_components(
            edges, vertices=df.select(F.col("rec_id").alias("id"))
        ).collect()
    }
    assert comp[1] == comp[2] == comp[3]  # {1,2,3} merged
    assert len({comp[1], comp[4], comp[5]}) == 3  # 4 and 5 alone


def test_remove_boilerplate_strips_furniture_only(spark):
    """A header planted in most docs of one source is stripped from
    that source; unique content and other sources are untouched;
    line order survives."""
    hdr = "SITE NAVIGATION home about contact"
    rows = [
        (i, "web", f"{hdr}\narticle body {i}\nunique line {i}")
        for i in range(8)
    ]
    rows.append((8, "web", "no header here\njust content 8"))
    rows.append((9, "books", f"{hdr}\nbook text 9"))  # small source: kept
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r
        for r in T.remove_boilerplate(df, min_frac=0.5, min_docs=3).collect()
    }
    for i in range(8):
        assert out[i]["text"] == f"article body {i}\nunique line {i}", i
        assert out[i]["n_removed_lines"] == 1
    assert out[8]["text"] == "no header here\njust content 8"
    assert out[8]["n_removed_lines"] == 0
    # the 2-doc source is below min_docs: its header is content
    assert out[9]["text"] == f"{hdr}\nbook text 9"
    assert out[9]["n_removed_lines"] == 0
    # schema: original columns + the counter
    assert set(out[0].asDict()) == {"doc_id", "source", "text", "n_removed_lines"}


def test_remove_boilerplate_line_text_never_shuffles(spark, sf_dir):
    """The counting side shuffles only (source, md5, md5, doc) —
    line text reaches no keyed exchange."""
    from test_plans import _exchange_blocks

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    blocks = [
        b
        for b in _exchange_blocks(T.remove_boilerplate(docs))
        if "RoundRobinPartitioning" not in b and "Broadcast" not in b.splitlines()[0]
    ]
    assert blocks  # the slim counting aggregations
    for b in blocks:
        assert "text#" not in b, b
        assert "__lines#" not in b, b
        assert "__clean_lines#" not in b, b


def test_pivot_report_matches_duckdb_case_twin(spark, sf_dir, duck):
    """qa.pivot_report round-10 registration candidate: the DuckDB
    CASE-WHEN aggregation is the oracle shape; values match exactly
    (sums of decimal-backed doubles agree after the cast discipline)."""
    from clinical_data_warehouse_bi_spark import qa

    from clinical_data_warehouse_bi_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("double").alias("qty"),
    )
    got = {
        r["l_returnflag"]: r
        for r in qa.pivot_report(
            li, ["l_returnflag"], "l_linestatus", ["F", "O"], {"qty": "sum"}
        ).collect()
    }
    want = {
        r[0]: r
        for r in duck.execute("""
            SELECT l_returnflag,
                   sum(CASE WHEN l_linestatus = 'F'
                            THEN CAST(l_quantity AS DOUBLE) END) AS f_sum,
                   sum(CASE WHEN l_linestatus = 'O'
                            THEN CAST(l_quantity AS DOUBLE) END) AS o_sum
            FROM lineitem GROUP BY l_returnflag
        """).fetchall()
    }
    assert set(got) == set(want)
    for k, g in got.items():
        for i, c in ((1, "F_sum_qty"), (2, "O_sum_qty")):
            a, b = want[k][i], g[c]
            assert (a is None and b is None) or abs(a - b) < 1e-6, (k, c, a, b)


def test_pivot_report_single_exchange_plan(spark, sf_dir):
    """Pivot must cost exactly the tall aggregate's one groupBy
    exchange — explicit values fold the pivot into the aggregate
    expressions, no distinct-discovery job, no second shuffle."""
    from clinical_data_warehouse_bi_spark import qa
    from test_plans import physical_plan

    from clinical_data_warehouse_bi_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    plan = physical_plan(
        qa.pivot_report(
            li, ["l_returnflag"], "l_linestatus", ["F", "O"], {"l_quantity": "sum"}
        )
    )
    assert plan.count("Exchange") == 1, plan[:1200]


def test_pivot_unpivot_roundtrip_and_guards(spark):
    from clinical_data_warehouse_bi_spark import qa

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
        ["k", "p", "v"],
    )
    wide = qa.pivot_report(df, ["k"], "p", ["x", "y"], {"v": "sum"})
    assert set(wide.columns) == {"k", "x_sum_v", "y_sum_v"}
    got = {r["k"]: (r["x_sum_v"], r["y_sum_v"]) for r in wide.collect()}
    assert got == {"a": (1.0, 2.0), "b": (3.0, None)}
    with pytest.raises(ValueError):
        qa.pivot_report(df, ["k"], "p", [], {"v": "sum"})
    with pytest.raises(ValueError):
        qa.pivot_report(df, ["k"], "p", ["x"], {"v": "median"})


def test_top_ngrams_matches_duckdb_and_never_shuffles_text(spark, sf_dir, duck):
    """text.top_ngrams (round-17 vectorized-Arrow rewrite): exact
    (ngram, n_occ, n_docs) agreement with DuckDB's direct
    string-grouped top-k, and the counting side ships only slim
    (h1, h2, cnt) partials — n-gram strings and raw text reach no
    count shuffle."""
    from clinical_data_warehouse_bi_spark import text as T2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = [
        (r["ngram"], r["n_occ"], r["n_docs"])
        for r in T2.top_ngrams(docs, n=3, k=50).collect()
    ]
    want = [
        tuple(r)
        for r in duck.execute("""
            WITH t AS (
              SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
              FROM documents),
            g AS (
              SELECT doc_id,
                     array_to_string(w[i:i+2], ' ') AS ngram
              FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i))
            SELECT ngram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
            FROM g GROUP BY ngram
            ORDER BY n_occ DESC, ngram ASC LIMIT 50
        """).fetchall()
    ]
    assert got == want
    # plan: the CORPUS-SIZED counting aggregation receives the Arrow
    # stage's per-task partials and exchanges only (h1, h2, cnt) —
    # never text or token arrays
    counts = (
        docs.select(F.col("text").alias("__text"))
        .mapInPandas(
            T2._ngram_count_partials(3), "h1 long, h2 long, cnt long"
        )
        .groupBy("h1", "h2")
        .agg(F.sum("cnt").alias("n_occ"))
    )
    cplan = counts._jdf.queryExecution().toString()
    cheads = [
        seg.split("\n", 1)[0]
        for seg in cplan.split("Exchange hashpartitioning")[1:]
    ]
    assert any(h.startswith("(h1#") for h in cheads), cheads
    assert not any("text#" in h or " w#" in h for h in cheads), cheads
    # the counting pass must never BUILD a window string either: no
    # concat_ws anywhere in the counting plan (strings exist only in
    # the recovery stage, and there only for candidate windows)
    assert "concat_ws" not in cplan, cplan[:1500]
    # recovery stage shape, asserted directly (the returned
    # top_ngrams relation is a collected LocalTableScan, so
    # asserting on it would be vacuous): candidate join is a
    # broadcast hash join; keyed exchanges carry only the bounded
    # ngram/h1 groupings; raw text enters no exchange — on BOTH the
    # candidate-filtered path and the tie-overflow fallback, and the
    # two paths recover identical relations
    cand = counts.limit(5)
    h1s = [r["h1"] for r in cand.select("h1").collect()]
    outs = []
    for pre in (h1s, None):
        rec = (
            docs.select(
                F.col("doc_id").alias("__id"), F.col("text").alias("__text")
            )
            .mapInPandas(
                T2._ngram_recovery(3, pre),
                "__id long, ngram string, h1 long, h2 long",
            )
            .join(F.broadcast(cand), ["h1", "h2"])
            .groupBy("ngram")
            .agg(
                F.first("n_occ").alias("n_occ"),
                F.count_distinct("__id").alias("n_docs"),
            )
        )
        rplan = rec._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in rplan, rplan[:1500]
        rheads = [
            seg.split("\n", 1)[0]
            for seg in rplan.split("Exchange hashpartitioning")[1:]
        ]
        assert rheads and all(
            h.startswith("(ngram#") or h.startswith("(h1#") for h in rheads
        ), rheads
        assert not any("text#" in h or " w#" in h for h in rheads), rheads
        outs.append(sorted(map(tuple, rec.collect())))
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_top_ngrams_rows_do_not_depend_on_arrow_batch_size(spark, sf_dir):
    """_ngram_count_partials runs one np.unique per Arrow batch and
    merges the partial counts: with a batch size small enough that
    every task sees several batches, q_top_ngrams returns the same
    rows as with the default batch size."""
    from clinical_data_warehouse_bi_spark.queries.text_ops import q_top_ngrams

    def batches(it):
        import pandas as pd

        yield pd.DataFrame({"n": [sum(1 for _ in it)]})

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    want = q_top_ngrams(spark, sf_dir).collect()
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        per_task = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("text").mapInPandas(batches, "n long").collect()
        )
        assert max(r["n"] for r in per_task) > 1, per_task
        got = q_top_ngrams(spark, sf_dir).collect()
    finally:
        spark.conf.set(key, old)
    assert want and got == want


def test_top_ngrams_edges(spark):
    from clinical_data_warehouse_bi_spark import text as T2

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert T2.top_ngrams(empty, n=3, k=5).count() == 0
    short = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    assert T2.top_ngrams(short, n=5, k=3).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        T2.top_ngrams(short, n=0, k=3)


def test_top_ngrams_rejects_non_bigint_id(spark):
    """The recovery stage's Arrow schema carries the id as long: a
    string id fails at plan-build time with a TypeError naming the
    column, not with an Arrow type error inside a task."""
    import pytest as _pytest

    from clinical_data_warehouse_bi_spark import text as T2

    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma alpha beta gamma")],
        "doc_id string, text string",
    )
    with _pytest.raises(TypeError, match="doc_id"):
        T2.top_ngrams(docs, n=2, k=3)


def test_ngram_tokenizer_matches_jvm_tokens_on_non_ascii(spark):
    """The Python n-gram tokenizer (``_ngram_tokenize_flat``: pandas
    ``str.lower()`` then ``[a-z0-9]+``) and the JVM ``text.tokens``
    (Spark ``lower`` then the same regex) agree on non-ASCII input.
    The two lowercasings are different code (Python's Unicode tables
    vs the JVM's), so equivalence rests on one assumption: they agree
    on every character whose lowercase form falls in ``[a-z0-9]``.
    Besides A-Z, that is U+0130 (dotted capital I, which lowers to
    'i' plus a combining dot) and U+212A (the Kelvin sign, which
    lowers to 'k'). Characters that lower to non-ASCII letters (the
    capital sharp s, Greek with its final sigma, ligatures) drop out
    of both token streams the same way, so any difference there is
    invisible. No input below tokenizes differently.

    The same holds between Spark's two case mappings (get_spark picks
    the JVM's over ICU's). They differ on non-ASCII letters only:
    case pairs newer than the JDK's Unicode (U+2C2F, U+A7C0) and the
    final-sigma rule next to case-ignorable or uncased characters
    (U+00A8, U+00B2). Both lower to non-ASCII, so neither a token nor
    a keyword match can change; the last two inputs and the
    keyword_filter check below pin that without asserting either
    JDK's lower() output."""
    import pandas as pd

    from clinical_data_warehouse_bi_spark.cleanse import keyword_filter

    inputs = [
        "\u0130stanbul",          # dotted capital I
        "\u212aelvin 5\u212a",    # Kelvin sign
        "STRA\u1e9eE stra\u00dfe",  # capital and small sharp s
        "\u039f\u0394\u039f\u03a3 abc \u03c3\u03b1\u03c2",  # final sigma
        "\ufb01ne \uff21BC",      # fi ligature, fullwidth A
        "plain ASCII 42",
        "\u2c2f\ua7c0 abc",        # case pairs of Unicode 14
        "Ab\u00a8\u03a3 x \u00b2\u03a3 y",  # sigma after case-ignorable / uncased
    ]
    df = spark.createDataFrame(list(enumerate(inputs)), "i int, text string")
    jvm = {
        r["i"]: list(r["t"])
        for r in df.select("i", T.tokens("text").alias("t")).collect()
    }
    flat, lens = T._ngram_tokenize_flat(pd.Series(inputs))
    py, at = {}, 0
    for i, n in enumerate(lens):
        py[i], at = list(flat[at:at + n]), at + n
    assert py == jvm
    assert py == {
        0: ["i", "stanbul"],
        1: ["kelvin", "5k"],
        2: ["stra", "e", "stra", "e"],
        3: ["abc"],
        4: ["ne", "bc"],
        5: ["plain", "ascii", "42"],
        6: ["abc"],
        7: ["ab", "x", "y"],
    }
    kw = spark.createDataFrame([("SODIUM \u00a8\u03a3",)], "s string")
    assert kw.filter(keyword_filter("s", ["sodium"])).count() == 1


# ------------------------------------------------ benford_profile


def test_benford_matches_duckdb_on_lineitem(spark, sf_dir, duck):
    from clinical_data_warehouse_bi_spark import qa

    li = read_table(spark, sf_dir, "lineitem")
    got = sorted(
        (r["digit"], r["n"], round(r["observed_p"], 9))
        for r in qa.benford_profile(
            li, "l_extendedprice", int_scale=2
        ).collect()
    )
    want = sorted(
        (d, n, round(p, 9))
        for d, n, p in duck.execute("""
            WITH u AS (
              SELECT CAST(floor(abs(CAST(l_extendedprice AS DOUBLE))
                                * 100.0 + 0.5) AS BIGINT) AS units
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
            v AS (
              SELECT CAST(substring(CAST(units AS VARCHAR), 1, 1) AS INT)
                     AS digit
              FROM u WHERE units > 0)
            SELECT digit, count(*) AS n,
                   count(*) / sum(count(*)) OVER () AS p
            FROM v GROUP BY digit
        """).fetchall()
    )
    assert got == want and len(got) > 0


def test_benford_discriminates_natural_from_uniform(spark):
    from clinical_data_warehouse_bi_spark import qa

    import random

    rng = random.Random(17)
    natural = [(10 ** rng.uniform(0, 5),) for _ in range(20000)]
    uniform = [(float(rng.randint(1000, 9999)),) for _ in range(20000)]

    def mad(rows):
        df = spark.createDataFrame(rows, "v double")
        out = qa.benford_profile(df, "v", int_scale=2).collect()
        return sum(r["abs_dev"] for r in out) / len(out)

    assert mad(natural) < 0.01        # log-uniform IS Benford
    assert mad(uniform) > 0.04        # flat digits are not


def test_benford_excludes_zero_null_and_uses_abs(spark):
    from clinical_data_warehouse_bi_spark import qa

    df = spark.createDataFrame(
        [(0.0,), (None,), (-314.0,), (0.0072,)], "v double"
    )
    rows = {r["digit"]: r["n"]
            for r in qa.benford_profile(df, "v", int_scale=4).collect()}
    assert rows == {3: 1, 7: 1}


def test_benford_int_scale_exact_digits(spark):
    """The registered digit path (round-11 ADVICE fix): quantize to
    10^scale units, first char of the integer's EXACT decimal string
    — immune to libm log10 divergence at exact powers of 10 and to
    double->string rendering divergence. Exact powers of 10 must
    land on digit 1 (the log10 hazard case), sub-resolution values
    are excluded with the zeros, signs are ignored."""
    from clinical_data_warehouse_bi_spark import qa

    df = spark.createDataFrame(
        [(10.0,), (100.0,), (1000.0,), (0.01,), (0.001,), (-931.37,),
         (55.55,), (None,), (0.0,)],
        "v double",
    )
    rows = {r["digit"]: r["n"]
            for r in qa.benford_profile(df, "v", int_scale=2).collect()}
    # 10/100/1000/0.01 -> digit 1; 0.001 rounds to 0 units (excluded);
    # -931.37 -> 9; 55.55 -> 5
    assert rows == {1: 4, 9: 1, 5: 1}


# ------------------------------------ rolling_aggregate / attribution


def test_rolling_aggregate_matches_duckdb(spark, sf_dir, duck):
    from clinical_data_warehouse_bi_spark.timeseries import rolling_aggregate

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    got = sorted(
        (r["user_id"], str(r["ts"]), round(r["avg_7d"], 9), r["count_7d"],
         round(r["sum_7d"], 6))
        for r in rolling_aggregate(
            ev, ["user_id"], "ts", "value", 7, aggs=("avg", "sum", "count")
        ).collect()
    )
    want = sorted(
        (u, str(t), round(a, 9), c, round(s, 6))
        for u, t, a, c, s in duck.execute("""
            SELECT user_id, ts,
                   avg(value) OVER w AS avg_7d,
                   count(*)   OVER w AS count_7d,
                   sum(value) OVER w AS sum_7d
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 604799999999 PRECEDING
                               AND CURRENT ROW)
        """).fetchall()
    )
    assert got == want and len(got) > 0


def test_rolling_aggregate_single_exchange(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.timeseries import rolling_aggregate

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = rolling_aggregate(ev, ["user_id"], "ts", "value", 7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan  # sliding frame, never a self-join


def test_rolling_aggregate_rejects_bad_inputs(spark, sf_dir):
    import pytest

    from clinical_data_warehouse_bi_spark.timeseries import rolling_aggregate

    ev = read_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        rolling_aggregate(ev, ["user_id"], "ts", "value", 0)
    with pytest.raises(ValueError):
        rolling_aggregate(ev, ["user_id"], "ts", "value", 7, aggs=("median",))


def _attribution_python(rows, model, lookback_days=None):
    """Independent per-user model: rows = (user, ts_epoch_us, channel,
    is_conv); same-instant touches sort before conversions.
    Timestamps are MICROSECOND epochs (the operator's precision)."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, t, ch, conv in rows:
        by_user[u].append((t, 1 if conv else 0, ch))
    out = []
    for u, items in by_user.items():
        items.sort(key=lambda x: (x[0], x[1]))
        touches = []
        for t, conv, ch in items:
            if not conv:
                touches.append((t, ch))
                continue
            eligible = [p for p in touches if p[1] is not None]
            if lookback_days is not None:
                horizon = lookback_days * 86400 * 1_000_000
                eligible = [p for p in eligible if t - p[0] <= horizon]
            pick = None
            if eligible:
                # declared tiebreak: same-instant touches resolve by
                # channel — greatest for last_touch, least for first
                pick = (
                    max(eligible) if model == "last_touch" else min(eligible)
                )
            out.append((u, t, pick[1] if pick else None,
                        pick[0] if pick else None))
    return sorted(out)


def test_attribution_matches_python_model(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.queries.windows import (
        ATTR_LOOKBACK_DAYS,
    )
    from clinical_data_warehouse_bi_spark.timeseries import attribution

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    rows = [
        (r["user_id"], int(round(r["ts"].timestamp() * 1_000_000)),
         r["event_type"], r["event_type"] == "purchase")
        for r in ev.collect()
    ]
    out = attribution(
        ev, "user_id", "ts", "event_type",
        F.col("event_type") == "purchase", ATTR_LOOKBACK_DAYS,
    ).collect()
    for model in ("last_touch", "first_touch"):
        got = sorted(
            (r["user"], int(round(r["conversion_ts"].timestamp() * 1_000_000)),
             r["credited_channel"],
             int(round(r["touch_ts"].timestamp() * 1_000_000))
             if r["touch_ts"] else None)
            for r in out if r["model"] == model
        )
        want = _attribution_python(rows, model, ATTR_LOOKBACK_DAYS)
        assert got == want and len(got) > 0


def test_attribution_lookback_voids_stale_credit(spark):
    from clinical_data_warehouse_bi_spark.timeseries import attribution

    rows = [
        (1, "2024-01-01 00:00:00", "ad", False),
        (1, "2024-03-01 00:00:00", "buy", True),   # 60d later: void
        (2, "2024-01-01 00:00:00", "ad", False),
        (2, "2024-01-05 00:00:00", "buy", True),   # in window
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string, conv boolean"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["model"], r["user"]): r["credited_channel"]
        for r in attribution(
            df, "user_id", "ts", "event_type", F.col("conv"), 30
        ).collect()
    }
    for model in ("last_touch", "first_touch"):
        assert {u: out[m, u] for m, u in out if m == model} == {
            1: None, 2: "ad"
        }


def test_attribution_first_touch_lookback_is_window_filter(spark):
    """lookback + first_touch credits the EARLIEST touch inside the
    window, not the (stale) journey opener — the window-filter
    semantics the docstring pins."""
    from clinical_data_warehouse_bi_spark.timeseries import attribution

    rows = [
        (1, "2024-01-01 00:00:00", "tv", False),    # opener, stale
        (1, "2024-02-20 00:00:00", "ad", False),    # in window
        (1, "2024-02-25 00:00:00", "email", False), # in window, later
        (1, "2024-03-01 00:00:00", "buy", True),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string, conv boolean"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["model"]: r["credited_channel"]
        for r in attribution(
            df, "user_id", "ts", "event_type", F.col("conv"), 30
        ).collect()
    }
    assert out == {"first_touch": "ad", "last_touch": "email"}


def test_attribution_tiebreak_is_deterministic_by_channel(spark):
    """Declared round-11 tiebreak: same-instant touches resolve by
    channel order — greatest for last_touch, least for first_touch —
    and a NULL-channel touch is never creditable (it used to be able
    to split credited_channel and touch_ts across two rows)."""
    from clinical_data_warehouse_bi_spark.timeseries import attribution

    rows = [
        (1, "2024-01-01 00:00:00", "ad", False),
        (1, "2024-01-01 00:00:00", "email", False),  # same instant
        (1, "2024-01-02 00:00:00", None, False),     # NULL channel
        (1, "2024-01-03 00:00:00", "buy", True),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string, conv boolean"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["model"]: r
        for r in attribution(
            df, "user_id", "ts", "event_type", F.col("conv"), 30
        ).collect()
    }
    assert len(out) == 2
    for model, want in (("last_touch", "email"), ("first_touch", "ad")):
        assert out[model]["credited_channel"] == want, (model, out)
        # channel and ts from the SAME row: never the NULL-channel ts
        assert str(out[model]["touch_ts"]) == "2024-01-01 00:00:00"


def test_attribution_single_exchange(spark, sf_dir):
    from clinical_data_warehouse_bi_spark.timeseries import attribution

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    out = attribution(
        ev, "user_id", "ts", "event_type",
        F.col("event_type") == "purchase", 30,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


# ----------------------------------------------- outlier_report


def test_outlier_report_matches_numpy(spark):
    import numpy as np

    from clinical_data_warehouse_bi_spark import qa

    rng = np.random.default_rng(5)
    clean = rng.normal(50, 5, 400)
    planted = np.array([500.0, -400.0, 51.0])
    vals = np.concatenate([clean, planted])
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    out = {
        round(r["v"], 9): (r["modified_z"], r["is_outlier"])
        for r in qa.outlier_report(df, "v").collect()
    }
    med = float(np.median(vals))
    mad = float(np.median(np.abs(vals - med)))
    for v in vals:
        z_want = 0.6745 * (v - med) / mad
        z_got, flag = out[round(float(v), 9)]
        assert abs(z_got - z_want) < 1e-9
        assert flag == (abs(z_want) > 3.5)
    assert out[500.0][1] and out[-400.0][1] and not out[51.0][1]


def test_outlier_report_grouped_and_degenerate(spark):
    from clinical_data_warehouse_bi_spark import qa

    rows = (
        [("a", float(v)) for v in range(100)] + [("a", 10000.0)]
        # degenerate group: MAD 0 (all identical but one)
        + [("b", 7.0)] * 10 + [("b", 99.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = qa.outlier_report(df, "v", group_cols=["g"])
    a = {r["v"]: r["is_outlier"] for r in out.filter("g = 'a'").collect()}
    assert a[10000.0] is True and a[50.0] is False
    b = {r["v"]: (r["modified_z"], r["is_outlier"])
         for r in out.filter("g = 'b'").collect()}
    assert b[7.0] == (None, False)     # MAD 0: at the median
    assert b[99.0] == (None, True)     # MAD 0: differs from median


def test_outlier_report_null_group_key_kept(spark):
    """Rows with a NULL group-key value form their own group (as
    groupBy would) instead of being silently dropped by an equality
    join back — no row loss, and the NULL group gets its own
    median/MAD."""
    from clinical_data_warehouse_bi_spark import qa

    rows = (
        [(None, float(v)) for v in range(50)] + [(None, 9999.0)]
        + [("a", 5.0), ("a", 6.0), ("a", 7.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = qa.outlier_report(df, "v", group_cols=["g"])
    assert out.count() == len(rows)  # every input row survives
    nulls = {r["v"]: r["is_outlier"]
             for r in out.filter(F.col("g").isNull()).collect()}
    assert len(nulls) == 51
    assert nulls[9999.0] is True and nulls[25.0] is False


def test_outlier_oracle_join_keeps_null_groups():
    """Round-11 ADVICE: q_outlier_report's DuckDB oracle must use
    NULL-safe joins (IS NOT DISTINCT FROM) so a NULL group key forms
    its own group exactly like the Spark window partitioning — a
    plain USING join silently drops those rows and the oracle would
    disagree with the operator the moment the group column is
    nullable. Pinned here on synthetic data WITH a NULL key, since
    the fixture's l_shipdate happens to be NOT NULL."""
    import duckdb

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE t AS SELECT * FROM (VALUES
          (NULL, 1.0), (NULL, 2.0), (NULL, 3.0), (NULL, 100.0),
          ('a', 5.0), ('a', 6.0), ('a', 7.0)) AS v(g, x)
    """)
    rows = con.execute("""
        WITH med AS (
          SELECT g, median(x) AS med FROM t GROUP BY g),
        stats AS (
          SELECT b.g, any_value(m.med) AS med,
                 median(abs(b.x - m.med)) AS mad
          FROM t b JOIN med m ON b.g IS NOT DISTINCT FROM m.g
          GROUP BY b.g)
        SELECT b.g, b.x,
               CASE WHEN mad > 0
                    THEN abs(0.6745 * (x - med) / mad) > 3.5
                    ELSE x <> med END AS is_outlier
        FROM t b JOIN stats s ON b.g IS NOT DISTINCT FROM s.g
    """).fetchall()
    con.close()
    assert len(rows) == 7  # USING-join form would return only 3
    nulls = {x: o for g, x, o in rows if g is None}
    assert len(nulls) == 4
    assert nulls[100.0] is True and nulls[2.0] is False


# ----------------------------------------------- freshness_report


def test_freshness_report_matches_duckdb(spark, sf_dir, duck):
    from clinical_data_warehouse_bi_spark import qa

    ev = read_table(spark, sf_dir, "events")
    as_of = "2025-01-01 00:00:00"
    got = sorted(
        (r["event_type"], r["n_rows"], str(r["oldest"]), str(r["newest"]),
         round(r["lag_hours"], 6), r["rows_last_24h"])
        for r in qa.freshness_report(
            ev, "ts", as_of, source_col="event_type"
        ).collect()
    )
    want = sorted(
        (t, n, str(o), str(nw), round(lg, 6), rc)
        for t, n, o, nw, lg, rc in duck.execute(f"""
            SELECT event_type, count(*) AS n_rows,
                   min(ts) AS oldest, max(ts) AS newest,
                   date_diff('second', max(ts),
                             TIMESTAMP '{as_of}') / 3600.0 AS lag_hours,
                   count(*) FILTER (
                     WHERE ts >= TIMESTAMP '{as_of}' - INTERVAL 24 HOURS
                   ) AS recent
            FROM events GROUP BY 1
        """).fetchall()
    )
    assert got == want and len(got) == 5


def test_freshness_report_single_aggregation(spark, sf_dir):
    from clinical_data_warehouse_bi_spark import qa

    ev = read_table(spark, sf_dir, "events")
    out = qa.freshness_report(ev, "ts", "2025-01-01 00:00:00",
                              source_col="event_type")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    import pytest

    with pytest.raises(ValueError):
        qa.freshness_report(ev, "ts", "2025-01-01", "event_type",
                            recent_hours=0)


# --------------------------------------- chunk_text property sweep


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_chunk_texts = st.lists(
    st.text(alphabet="ab c\n\t", min_size=0, max_size=120),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
@given(_chunk_texts, st.integers(2, 12), st.integers(0, 6))
def test_chunk_text_properties(spark, texts, chunk, overlap):
    from clinical_data_warehouse_bi_spark.text import chunk_text

    if overlap >= chunk:
        overlap = chunk - 1
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_text(df, chunk, overlap).collect()
    stride = chunk - overlap
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        toks = t.split()
        got = sorted(by_doc.get(i, []), key=lambda r: r["chunk_idx"])
        if not toks:
            assert got == []
            continue
        # coverage: concatenating non-overlap prefixes rebuilds the doc
        rebuilt = []
        for j, r in enumerate(got):
            ch = r["chunk_text"].split()
            rebuilt.extend(ch if j == 0 else ch[overlap:])
            assert r["token_start"] == r["chunk_idx"] * stride
            assert r["token_end"] - r["token_start"] == len(ch)
        assert rebuilt == toks, (t, chunk, overlap)


# ------------------------------------------------------ split_assign


def test_split_assign_matches_duckdb_and_covers(spark, sf_dir, duck):
    from clinical_data_warehouse_bi_spark import text as T2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = T2.split_assign(docs, fr, seed="s1")
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    # exact cross-engine reproduction of the md5-uniform assignment
    want = dict(duck.execute("""
        SELECT doc_id,
               CASE WHEN u <= 0.8 THEN 'train'
                    WHEN u <= 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     (('0x' || substr(md5('s1:' || CAST(doc_id AS VARCHAR)),
                                      1, 8))::UBIGINT + 1.0)
                     / 4294967297.0 AS u
              FROM documents) t
    """).fetchall())
    assert got == want
    # disjoint cover with roughly the declared fractions
    n = len(got)
    from collections import Counter

    c = Counter(got.values())
    assert set(c) == {"train", "val", "test"} and sum(c.values()) == n
    assert abs(c["train"] / n - 0.8) < 0.05
    # deterministic and seed-sensitive
    again = {r["doc_id"]: r["split"]
             for r in T2.split_assign(docs, fr, seed="s1").collect()}
    other = {r["doc_id"]: r["split"]
             for r in T2.split_assign(docs, fr, seed="s2").collect()}
    assert again == got and other != got
    # append stability: the assignment of an id is a pure function of
    # (seed, key) — a half-corpus run agrees with the full run
    half = {
        r["doc_id"]: r["split"]
        for r in T2.split_assign(
            docs.filter("doc_id % 2 = 0"), fr, seed="s1"
        ).collect()
    }
    assert all(got[i] == s for i, s in half.items())


def test_split_assign_is_shuffle_free_and_validates(spark, sf_dir):
    import pytest as _pt

    from clinical_data_warehouse_bi_spark import text as T2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = T2.split_assign(docs, {"a": 0.5, "b": 0.5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure per-row expression
    with _pt.raises(ValueError):
        T2.split_assign(docs, {"only": 1.0})
    with _pt.raises(ValueError):
        T2.split_assign(docs, {"a": 0.5, "b": 0.6})
    with _pt.raises(ValueError):
        T2.split_assign(docs, {"a": -0.5, "b": 1.5})


# -------------------------------------------- vocabulary_divergence


def test_vocabulary_divergence_matches_duckdb(spark, sf_dir, duck):
    """Per-token JS contributions against a DuckDB recomputation on
    the same two snapshots (documents split by doc_id parity);
    values compared to 1e-12, membership of the top set exact."""
    from clinical_data_warehouse_bi_spark import text as T2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    got = [
        (r["token"], r["p_a"], r["p_b"], r["js_contrib"])
        for r in T2.vocabulary_divergence(a, b, top_k=40).collect()
    ]
    want = duck.execute("""
        WITH ta AS (SELECT unnest(regexp_extract_all(lower(text),
                           '[a-z0-9]+')) AS token
                    FROM documents WHERE doc_id % 2 = 0),
        tb AS (SELECT unnest(regexp_extract_all(lower(text),
                           '[a-z0-9]+')) AS token
               FROM documents WHERE doc_id % 2 = 1),
        ca AS (SELECT token, count(*)::DOUBLE AS n_a FROM ta GROUP BY 1),
        cb AS (SELECT token, count(*)::DOUBLE AS n_b FROM tb GROUP BY 1),
        j AS (SELECT coalesce(ca.token, cb.token) AS token,
                     coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
              FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        tots AS (SELECT (SELECT sum(n_a) FROM ca) AS sa,
                        (SELECT sum(n_b) FROM cb) AS sb),
        terms AS (
          SELECT token, n_a / sa AS p_a, n_b / sb AS p_b,
                 (CASE WHEN n_a > 0 THEN (n_a/sa) * log2((n_a/sa) /
                        ((n_a/sa + n_b/sb) / 2.0)) ELSE 0 END
                + CASE WHEN n_b > 0 THEN (n_b/sb) * log2((n_b/sb) /
                        ((n_a/sa + n_b/sb) / 2.0)) ELSE 0 END) / 2.0
                   AS js_contrib
          FROM j, tots)
        SELECT token, p_a, p_b, js_contrib FROM terms
        ORDER BY js_contrib DESC, token ASC LIMIT 40
    """).fetchall()
    # the sf0.001 vocabulary is smaller than top_k: both engines
    # return the full vocabulary, which must agree exactly
    assert len(got) == len(want) > 20
    assert {t for t, *_ in got} == {t for t, *_ in want}
    gm = {t: (pa, pb, js) for t, pa, pb, js in got}
    for t, pa, pb, js in want:
        ga, gb, gj = gm[t]
        assert abs(ga - pa) < 1e-12 and abs(gb - pb) < 1e-12
        assert abs(gj - js) < 1e-12


def test_vocabulary_divergence_properties(spark):
    """Identical corpora diverge by zero everywhere; a token present
    on one side only carries the maximal per-token share; full-vocab
    js_contrib sums into [0, 1]."""
    from clinical_data_warehouse_bi_spark import text as T2

    a = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta")],
        "doc_id long, text string",
    )
    same = T2.vocabulary_divergence(a, a, top_k=100).collect()
    assert all(abs(r["js_contrib"]) < 1e-15 for r in same)
    b = spark.createDataFrame(
        [(3, "alpha beta delta")], "doc_id long, text string"
    )
    out = T2.vocabulary_divergence(a, b, top_k=100).collect()
    total = sum(r["js_contrib"] for r in out)
    assert 0.0 < total <= 1.0 + 1e-12
    top = out[0]
    assert top["token"] in ("gamma", "delta")  # one-sided tokens lead
    import pytest as _pt

    with _pt.raises(ValueError):
        T2.vocabulary_divergence(a, b, top_k=0)


def test_outlier_report_oracle_shaped_duckdb_parity(spark, sf_dir, duck):
    """Registration-ready oracle for the q_outlier_report candidate:
    grouped modified-z over lineitem quantities vs a DuckDB
    recomputation, values quantized decimal(28,9)->string on both
    sides (the cross-engine float convention)."""
    from clinical_data_warehouse_bi_spark import qa
    from clinical_data_warehouse_bi_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    out = qa.outlier_report(li, "l_extendedprice", ["l_returnflag"])
    got = sorted(
        (r["l_orderkey"], r["l_linenumber"],
         r["modified_z"], bool(r["is_outlier"]))
        for r in out.select(
            "l_orderkey", "l_linenumber",
            F.col("modified_z").cast("decimal(28,9)").cast("string")
            .alias("modified_z"),
            "is_outlier",
        ).collect()
    )
    want = sorted(
        (a, b, z, bool(f))
        for a, b, z, f in duck.execute("""
            WITH med AS (
              SELECT l_returnflag, median(l_extendedprice) AS med
              FROM lineitem GROUP BY l_returnflag),
            stats AS (
              SELECT l.l_returnflag, any_value(m.med) AS med,
                     median(abs(l.l_extendedprice - m.med)) AS mad
              FROM lineitem l JOIN med m USING (l_returnflag)
              GROUP BY l.l_returnflag)
            SELECT l_orderkey, l_linenumber,
                   CAST(CAST(CASE WHEN mad > 0 THEN
                        0.6745 * (l_extendedprice - med) / mad END
                        AS DECIMAL(28,9)) AS VARCHAR) AS modified_z,
                   CASE WHEN mad > 0
                        THEN abs(0.6745 * (l_extendedprice - med) / mad)
                             > 3.5
                        ELSE l_extendedprice <> med END AS is_outlier
            FROM lineitem JOIN stats USING (l_returnflag)
        """).fetchall()
    )
    assert len(got) == len(want) > 1000
    assert got == want


def test_tfidf_keywords_hand_computed(spark):
    """text.tfidf_keywords on a corpus small enough to check by hand:
    N = 4 docs (doc 4 tokenizes empty but still counts toward N);
    'rare' appears 2x in doc 1 only (tf=2, df=1 ->
    score = 2*ln((N+1)/2)); 'the' appears in docs 1-3 (df=3 -> idf =
    ln(5/4), small but positive, so it still ranks where it is the
    only term); ties on score break term-ASC. Also pins the k bound
    and the empty-token doc (no rows)."""
    import math

    from clinical_data_warehouse_bi_spark.text import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "rare rare the beta"),
            (2, "the beta gamma"),
            (3, "the ... !!"),  # tokens: ['the'] only
            (4, "???"),  # no tokens at all -> no output rows
        ],
        "doc_id bigint, text string",
    )
    out = {
        (r["doc_id"], r["rnk"]): r
        for r in tfidf_keywords(docs, k=2).collect()
    }
    n = 4.0
    # doc 1: rare (tf=2, df=1) beats beta (tf=1, df=2) beats the
    r = out[(1, 1)]
    assert r["term"] == "rare" and r["tf"] == 2 and r["df"] == 1
    assert r["score"] == round(2 * math.log((n + 1) / 2), 4)
    assert out[(1, 2)]["term"] == "beta"
    # doc 2: beta and gamma tie on tf=1 only if df equal — gamma df=1
    # (rarer) so gamma first, then beta (df=2)
    assert out[(2, 1)]["term"] == "gamma"
    assert out[(2, 2)]["term"] == "beta"
    # doc 3: only 'the' (df=3): idf = ln(5/4) > 0 still ranks
    assert out[(3, 1)]["term"] == "the"
    assert (3, 2) not in out  # k bound respects vocab size
    # doc 4 emits nothing
    assert not any(d == 4 for d, _ in out)
    # exactly k rows max per doc
    assert max(rnk for _, rnk in out) <= 2


def test_tfidf_keywords_plan_shape(spark, sf_dir):
    """The staged q_tfidf_keywords plan: no raw-text column in any
    exchange (only the bounded term/token vocabulary columns ride
    shuffles), the idf side arrives broadcast, and no cartesian
    product beyond the two 1-row/vocab-row broadcast crossJoins."""
    from clinical_data_warehouse_bi_spark.queries.text_ops import (
        q_tfidf_keywords,
    )

    plan = q_tfidf_keywords(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_snapshot_diff_classification_and_null_keys(spark):
    """qa.snapshot_diff on a hand-built pair: added/removed/changed
    classified correctly, unchanged rows filtered, and a NULL key is
    a REAL row on both sides (presence markers, not key-nullness,
    decide side absence — the null-safe-join convention)."""
    from clinical_data_warehouse_bi_spark.qa import snapshot_diff

    old = spark.createDataFrame(
        [
            (1, "a"),  # unchanged
            (2, "b"),  # changed
            (3, "c"),  # removed
            (None, "n1"),  # NULL key, changed
        ],
        "k int, fp string",
    )
    new = spark.createDataFrame(
        [
            (1, "a"),
            (2, "B"),
            (4, "d"),  # added
            (None, "n2"),
        ],
        "k int, fp string",
    )
    got = {
        (r["k"], r["change"]): (r["fp_old"], r["fp_new"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        (2, "changed"): ("b", "B"),
        (3, "removed"): ("c", None),
        (4, "added"): (None, "d"),
        (None, "changed"): ("n1", "n2"),
    }


def test_snapshot_diff_rejects_empty_keys_and_handles_null_fp(spark):
    import pytest as _pytest

    from clinical_data_warehouse_bi_spark.qa import snapshot_diff

    df = spark.createDataFrame([(1, "a")], "k int, fp string")
    with _pytest.raises(ValueError):
        snapshot_diff(df, df, [])
    # NULL fingerprints on PRESENT sides: null-safe compare — both
    # NULL is unchanged (filtered), NULL vs value is changed
    old = spark.createDataFrame([(1, None), (2, None)], "k int, fp string")
    new = spark.createDataFrame([(1, None), (2, "x")], "k int, fp string")
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "changed"}


def test_snapshot_diff_plan_is_slim(spark, sf_dir):
    """q_snapshot_diff's exchanges carry only (key, fingerprint,
    presence) — no payload column (status/price/date/priority) ever
    shuffles; the join is the one full-outer SMJ (both sides must
    survive, broadcast impossible)."""
    from clinical_data_warehouse_bi_spark.queries.qa_report import (
        q_snapshot_diff,
    )

    plan = q_snapshot_diff(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            for payload in ("o_orderstatus", "o_totalprice", "o_orderdate",
                            "o_orderpriority", "o_custkey"):
                assert payload not in line, line


def test_epoch_shuffle_properties(spark):
    """epoch_shuffle: positions are a dense 1..N bijection; the
    permutation is layout-independent (same output from a 1-partition
    and a 13-partition input — the promise orderBy(rand()) cannot
    make); different seeds produce different permutations; and the
    order is exactly seeded-md5 order (the oracle semantics)."""
    import hashlib

    from clinical_data_warehouse_bi_spark.text import epoch_shuffle

    ids = list(range(200))
    df1 = spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(1)
    df13 = spark.createDataFrame([(i,) for i in ids], "doc_id long").repartition(13)
    out1 = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_shuffle(df1, seed=7).collect()
    }
    out13 = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_shuffle(df13, seed=7, n_ranges=5).collect()
    }
    assert sorted(out1.values()) == list(range(1, 201))  # dense bijection
    assert out1 == out13  # layout-independent
    expected = {
        d: pos + 1
        for pos, d in enumerate(
            sorted(ids, key=lambda d: (hashlib.md5(f"7:{d}".encode()).hexdigest(), d))
        )
    }
    assert out1 == expected  # exactly seeded-md5 order
    out_seed9 = {
        r["doc_id"]: r["epoch_pos"]
        for r in epoch_shuffle(df1, seed=9).collect()
    }
    assert out_seed9 != out1  # a different epoch is a different permutation
    assert sorted(out_seed9.values()) == list(range(1, 201))


def test_repeat_upsample_properties(spark):
    """repeat_upsample: realized copy count per row equals the
    python-computed md5 reference exactly (floor(f) + Bernoulli on
    the portable uniform), copy_idx is dense 1..n per surviving row,
    factor-0 sources vanish, unmapped sources pass through once, and
    negative factors are rejected."""
    import hashlib

    import pytest as _pytest

    from clinical_data_warehouse_bi_spark.text import repeat_upsample

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    factors = {"a": 2.5, "b": 0.5, "c": 0.0}
    got = {}
    for r in repeat_upsample(df, factors, seed="t1").collect():
        got.setdefault((r["doc_id"], r["source"]), []).append(r["copy_idx"])

    def uniform(seed, d):
        h = hashlib.md5(f"{seed}:{d}".encode()).hexdigest()[:8]
        return (int(h, 16) + 1.0) / 4294967297.0

    import math

    for d, s in rows:
        f = factors.get(s, 1.0)
        n = int(math.floor(f)) + (1 if uniform("t1", d) < f - math.floor(f) else 0)
        copies = sorted(got.get((d, s), []))
        assert copies == list(range(1, n + 1)), (d, s, f, n, copies)
    # factor-0 source fully vanished; unmapped passes through once
    assert not any(s == "c" for _, s in got)
    assert all(got[(d, "d")] == [1] for d, s in rows if s == "d")
    with _pytest.raises(ValueError, match=">= 0"):
        repeat_upsample(df, {"a": -1.0})
