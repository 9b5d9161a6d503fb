"""Similarity search over `embeddings` (north-star extensions):
brute-force cosine top-k as the exactness baseline, IVF-style
bucketed search as the scale path.

Numeric-parity design: dot products are computed as a sequential
left-fold in BOTH engines (Spark `aggregate()` over the array;
DuckDB `list_dot_product`) so the double summation order matches;
ranking uses round(cos, 6) with the neighbor id as tiebreak so a
hypothetical 1-ulp divergence cannot flip the compared output."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import io
from clinical_data_warehouse_bi_spark.io import load_tables
from clinical_data_warehouse_bi_spark.registry import register

#: number of query vectors / centroids / neighbors (tiny, fixed demo sizes)
N_QUERIES = 8
N_CENTROIDS = 4
TOP_K = 10

_SQL_VECS = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
"""


#: q_cosine_topk's DuckDB oracle, preserved after its round-9
#: registry retirement (slot went to q_top_ngrams, named a ready
#: candidate in SURVEY.md's round-9 log; witnesses: q_hybrid_topk's
#: dense leg keeps a registered brute-force cosine top-k under the
#: hash gate — the fold form whose numerics the GEMM path was proved
#: equal to for six straight rounds — q_embed_near_dup keeps the
#: registered embedding-cosine family, and q_ann_ivf_learned /
#: q_ann_ivf_pq the ANN tier. The Arrow/GEMM path itself keeps this
#: full cross-engine value check live in tests/test_retired_parity.py
#: and stays in the bench set / scale probes.)
SQL_COSINE_TOPK = f"""
    WITH n AS ({_SQL_VECS}),
    q AS (SELECT vec_id AS qid, e AS qe, n2 AS qn2 FROM n
          WHERE vec_id < {N_QUERIES}),
    p AS (SELECT q.qid, c.vec_id AS nid,
                 list_dot_product(q.qe, c.e) / (sqrt(q.qn2) * sqrt(c.n2)) AS cos
          FROM q, n c WHERE c.vec_id <> q.qid)
    SELECT qid, nid, rank, round(cos, 4) AS cosine
    FROM (SELECT qid, nid, cos,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY round(cos, 6) DESC, nid ASC) AS rank
          FROM p)
    WHERE rank <= {TOP_K}
    """


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: each of the first
    {N_QUERIES} vectors against the whole table, scored by the
    Arrow/GEMM path (similarity.cosine_topk_numpy): the tiny query
    matrix is closure-broadcast into every task, each scan partition
    does ONE numpy matrix multiply + partial top-k under the final
    total order, and only |partitions| x |queries| x k rows are ever
    exchanged — the vector table itself never shuffles. Replaces the
    round-2 scalar codegen fold (~64 lambda steps per pair, the 37.6x
    worst bench ratio) with per-batch BLAS; the DuckDB oracle is
    unchanged, so the hash gate proves GEMM == fold numerics after
    round(6)/round(4)."""
    from clinical_data_warehouse_bi_spark.similarity import (
        cosine_topk_numpy,
        query_vectors,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return cosine_topk_numpy(emb, query_vectors(emb, N_QUERIES), k=TOP_K)


#: probe the NPROBE nearest centroid buckets per query (the standard
#: IVF recall knob)
NPROBE = 2


#: q_ann_ivf_nprobe's DuckDB oracle, preserved after its round-7
#: registry retirement (slot went to q_ann_ivf_pq) — the cross-engine
#: value check survives in tests/test_retired_parity.py.
SQL_ANN_IVF_NPROBE = f"""
    WITH n AS ({_SQL_VECS}),
    cent AS (SELECT vec_id AS cid, e AS ce, n2 AS cn2 FROM n
             WHERE vec_id < {N_CENTROIDS}),
    scored AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY round(list_dot_product(v.e, c.ce)
                             / (sqrt(v.n2) * sqrt(c.cn2)), 6) DESC,
                        c.cid ASC) AS rn
      FROM n v, cent c),
    assign AS (SELECT vec_id, cid AS bucket FROM scored WHERE rn = 1),
    probes AS (SELECT vec_id, cid AS bucket FROM scored
               WHERE rn <= {NPROBE} AND vec_id < {N_QUERIES}),
    q AS (SELECT v.vec_id AS qid, v.e AS qe, v.n2 AS qn2, pr.bucket
          FROM n v JOIN probes pr ON pr.vec_id = v.vec_id),
    p AS (SELECT q.qid, v.vec_id AS nid,
                 list_dot_product(q.qe, v.e) / (sqrt(q.qn2) * sqrt(v.n2)) AS cos
          FROM q
          JOIN assign a ON a.bucket = q.bucket
          JOIN n v ON v.vec_id = a.vec_id
          WHERE v.vec_id <> q.qid)
    SELECT qid, nid, rank, round(cos, 4) AS cosine
    FROM (SELECT qid, nid, cos,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY round(cos, 6) DESC, nid ASC) AS rank
          FROM p)
    WHERE rank <= 5
    """


def q_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-bucket probing (nprobe={NPROBE}): each query
    searches its {NPROBE} nearest centroid buckets instead of one —
    the standard recall/cost knob (data vectors keep their single
    argmax bucket; only the probe side fans out, so candidate volume
    is nprobe x bucket size; a data vector lives in exactly one
    bucket, so probing distinct buckets never duplicates a candidate).

    It is similarity.ivf_search over the first {N_CENTROIDS} vectors
    as centroids, bucketed by cosine: centroid ranking is one matrix
    multiply per scan batch against the broadcast centroid matrix
    (similarity.centroid_rank over rank_centroids) — replacing a crossJoin + 64-step
    scalar fold + row_number window — and candidate scoring is a
    row-wise einsum over the joined pairs. The unchanged DuckDB oracle
    hash-checks the GEMM numerics end-to-end.

    Round-7 registry retirement (cap is 50; slot went to
    q_ann_ivf_pq, which composes THIS query's probe machinery —
    centroid_rank at the same nprobe knob — with PQ shortlisting and
    exact re-rank): the driver now row-checks the composed flagship
    pipeline instead of this intermediate form. The full oracle
    comparison stays live in tests/test_retired_parity.py against
    SQL_ANN_IVF_NPROBE, and tests/test_similarity_engine.py checks
    that nprobe=2 is never worse than the single-probe oracle. Kept
    unregistered as the raw-vector IVF API."""
    from clinical_data_warehouse_bi_spark.similarity import ivf_search, query_vectors

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return ivf_search(
        emb, query_vectors(emb, N_CENTROIDS), n_queries=N_QUERIES,
        nprobe=NPROBE, topk=5, metric="cosine",
    )


#: learned-IVF bucket count — kept equal to the deterministic demo's
#: N_CENTROIDS so the recall property test compares equal probe
#: budgets (nprobe/k fraction of the data); raising k narrows buckets
#: and trades recall for candidate volume, the standard IVF knob
LEARNED_K = N_CENTROIDS
#: KMeans seed — fixed so the index (and the rows-only check's row
#: count) is reproducible run-to-run
LEARNED_SEED = 7
#: fitted-quantizer memo per (application, sf_dir, k, seed) — see
#: q_ann_ivf_learned's docstring for why reuse is the honest cost.
#: Keyed on sparkContext.applicationId (stable per JVM context, never
#: recycled) rather than id(spark): CPython can reuse a freed id for
#: a new session, which would serve stale centroids. Entries are
#: plain float lists, so a dead application's entries waste only a
#: few KB until the (bounded: one per app x sf_dir x params) dict is
#: dropped with the process.
_QUANTIZER_CACHE: dict[tuple, list] = {}


def _fitted(spark: SparkSession, sf_dir: str, params: tuple, fit) -> list:
    """The memoized result of ``fit()`` for this application, table and
    quantizer ``params``: fitted once, reused by every later search."""
    key = (spark.sparkContext.applicationId, sf_dir, *params)
    if key not in _QUANTIZER_CACHE:
        _QUANTIZER_CACHE[key] = fit()
    return _QUANTIZER_CACHE[key]


def _learned_centroids(spark: SparkSession, sf_dir: str, emb: DataFrame) -> list:
    """The learned IVF quantizer, one fit shared by q_ann_ivf_learned
    and q_ann_ivf_pq."""
    from clinical_data_warehouse_bi_spark.similarity import sampled_kmeans_centroids

    return _fitted(
        spark, sf_dir, ("ivf", LEARNED_K, LEARNED_SEED),
        lambda: sampled_kmeans_centroids(emb, n_clusters=LEARNED_K, seed=LEARNED_SEED),
    )


def q_ann_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a LEARNED index, end-to-end: k-means centroids
    (similarity.sampled_kmeans_centroids) bucket every vector, each
    query probes its {NPROBE} nearest learned centroids by EUCLIDEAN
    distance — the same metric KMeans assigns with, so the probe set
    and the index agree — and only candidates from those buckets pay
    exact cosine scoring (similarity.pairwise_cosine), top-5 per
    query. Completes the learned path the round-3 review flagged as
    assignment-only: q_ann_ivf_nprobe keeps deterministic first-N
    centroids for oracle-ability; this is the same search shape
    against centroids the data actually chose.

    Round-10 registry retirement (cap is 50; the slot went to
    q_ann_ivf_pq_served): this was a rows-only entry, so retirement
    trades a row-count check for the richer registered tier —
    q_ann_ivf_pq keeps the learned quantizer + PQ pipeline
    row-checked and q_ann_ivf_pq_served adds the persisted-index
    serving contract; the learned-vs-arbitrary recall property and
    the probe-machinery cross-engine hash check (retired
    q_ann_ivf_nprobe) stay live in tests/test_similarity_engine.py
    and tests/test_retired_parity.py. Still benched via direct
    import (the bench.py convention).

    No oracle BY DESIGN: k-means is iterative/seeded, so no portable
    SQL reproduces its centroids; the driver records the rows-only
    check. The learned-vs-arbitrary recall property is proven on
    PLANTED-CLUSTER data (tests/test_similarity_engine.py): on the
    driver's uniform near-orthogonal vectors every centroid choice is
    statistically equivalent — there is no structure to learn — but
    on clustered data (the shape real embeddings have) the learned
    index must recall at least as much of the brute-force top-k as
    arbitrary first-N-vector centroids at the same probe budget.

    Scale shape: the quantizer trains on a BOUNDED deterministic
    sample driver-side (similarity.sampled_kmeans_centroids — the
    FAISS IVF recipe: hash-smallest ids via TakeOrdered, seeded
    restarted Lloyd's in numpy; a distributed MLlib fit would pay ~2 job
    barriers per iteration); full-table assignment and probe ranking are
    one broadcast-GEMM Arrow pass each (similarity.ivf_search — no
    crossJoin, no per-vector window shuffle); candidate volume is
    nprobe x bucket size with buckets sized by k."""
    from clinical_data_warehouse_bi_spark.similarity import ivf_search

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # The quantizer is a pure function of (table, k, seed) — sample
    # selection is content-hashed and Lloyd's is seeded — so repeated
    # invocations in one session reuse the fitted centroids, the same
    # memoization rationale as io.read_table (a production index
    # trains once and serves many searches; refitting per query would
    # misrepresent the operator's cost at any scale).
    return ivf_search(
        emb, _learned_centroids(spark, sf_dir, emb), n_queries=N_QUERIES,
        nprobe=NPROBE, topk=5, metric="euclidean",
    )


#: PQ geometry for the registered composed search: 64 driver dims /
#: m=8 subspaces = 8 dims per codeword; shortlist bounds the exact
#: re-rank per query
PQ_M = 8
PQ_SHORTLIST = 50


@register("q_ann_ivf_pq", oracle=None)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-style ANN pipeline, end-to-end
    (similarity.ivf_pq_search): learned IVF quantizer restricts each
    query to its {NPROBE} nearest buckets; PQ asymmetric distance
    (per-query LUT-sum over m={PQ_M} one-byte codes) scores those
    candidates WITHOUT touching float vectors; the top {PQ_SHORTLIST}
    per query pay exact cosine re-ranking. This is the flagship ANN
    entry the driver row-checks — the shape a 100 TB embedding store
    actually serves queries with, where the float vectors stay cold
    and only bucket ids, m-byte codes, and the shortlist are hot.

    No oracle BY DESIGN (the q_ann_ivf_learned convention): both the
    IVF centroids and the PQ codebooks come from seeded iterative
    Lloyd's, which no portable SQL reproduces. The value-level
    evidence lives in tests/test_similarity_engine.py: composed
    recall >= 0.8 of brute force on planted clusters, PQ
    reconstruction-beats-mean, shortlist-recall properties; the
    retired q_ann_ivf_nprobe twin keeps the probe machinery
    hash-checked cross-engine in tests/test_retired_parity.py.

    Quantizer + codebooks are memoized per (application, table) like
    q_ann_ivf_learned's — a production index trains once and serves
    many searches."""
    from clinical_data_warehouse_bi_spark.similarity import (
        ivf_pq_search,
        train_pq_codebooks,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    codebooks = _fitted(
        spark, sf_dir, ("pq", PQ_M, LEARNED_SEED),
        lambda: train_pq_codebooks(emb, m=PQ_M, seed=LEARNED_SEED),
    )
    return ivf_pq_search(
        emb,
        _learned_centroids(spark, sf_dir, emb),
        codebooks,
        n_queries=N_QUERIES,
        nprobe=NPROBE,
        shortlist=PQ_SHORTLIST,
        topk=5,
    )


SQL_EMBED_QUANTIZE = """
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    s AS (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) AS m
          FROM n)
    SELECT vec_id,
           CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale,
           list_aggregate(
             list_transform(e, x -> CAST(CAST(floor(x * (CASE WHEN m > 0
                 THEN 127.0 / m ELSE 0.0 END) + 0.5) AS INT) AS VARCHAR)),
             'string_agg', '|') AS q
    FROM s
    """


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transport
    op a training pipeline applies to embedding shards (4x smaller,
    dot products stay proportional). scale = 127 / max|x|; element ->
    floor(x * scale + 0.5) (explicit half-up: floor is IEEE-exact and
    engine-portable, unlike round()'s tie-breaking, which differs
    between engines). Pure per-row expression work — no shuffle, no
    Python; the quantized array is '|'-serialized in the compared
    output because the canonicalizers cannot hash lists.

    Round-8 registry retirement (cap is 50; the slot went to
    q_cohort_retention): hash-checked for five straight rounds on a
    frozen implementation. Witness: quantization's registered
    representative is the richer PQ tier (q_ann_ivf_pq: per-subspace
    codebooks, packed m-byte codes, ADC scoring); int8 scalar
    quantization keeps its full oracle comparison live in
    tests/test_retired_parity.py against SQL_EMBED_QUANTIZE."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    e = F.expr("transform(embedding, x -> cast(x as double))")
    s = emb.select("vec_id", e.alias("e")).withColumn(
        "m", F.expr("array_max(transform(e, x -> abs(x)))")
    )
    scale = F.expr("CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END")
    q = F.expr(
        "array_join(transform(e, x -> cast(cast(floor(x * (CASE WHEN m > 0"
        " THEN 127.0 / m ELSE 0.0 END) + 0.5) as int) as string)), '|')"
    )
    return s.select("vec_id", scale.alias("scale"), q.alias("q"))


#: demo near-dup threshold for the synthetic random embeddings (real
#: pipelines use ~0.95; the driver's vectors are near-orthogonal so a
#: production threshold would select nothing to compare)
NEAR_DUP_COS = 0.3

#: sign-LSH banding: 4 bands x 16 sign bits = 64 seeded random
#: hyperplanes. Multiple narrower bands (vs one wide bucket) keep
#: per-bucket populations bounded AND raise recall — the same
#: band/recall trade as MinHash.
LSH_BANDS, LSH_BAND_BITS = 4, 16
#: embedding dimensionality of the driver's `embeddings` table
EMB_DIMS = 64
#: seed of the Rademacher projection — both engines regenerate the
#: identical matrix from this integer (md5-derived, RNG-free)
LSH_SEED = 1803


def _lsh_matrix() -> list[list[int]]:
    from clinical_data_warehouse_bi_spark.similarity import rademacher_matrix

    return rademacher_matrix(LSH_SEED, LSH_BANDS * LSH_BAND_BITS, EMB_DIMS)


def _sql_band(j: int) -> str:
    """Band j's signature in DuckDB SQL: each bit is the sign of the
    SAME +-1-weighted element sum the GEMM path computes (signed
    literal multiplication is IEEE-exact, so only a dot product
    within ~1e-15 of zero could diverge between summation orders —
    impossible on continuous data)."""
    matrix = _lsh_matrix()
    bits = []
    for i in range(LSH_BAND_BITS):
        row = matrix[j * LSH_BAND_BITS + i]
        dot = " + ".join(f"({s})*e[{k + 1}]" for k, s in enumerate(row) if s)
        bits.append(
            f"(CASE WHEN {dot} >= 0"
            f" THEN {1 << (LSH_BAND_BITS - 1 - i)} ELSE 0 END)"
        )
    return " + ".join(bits)


_SQL_BAND_JOINS = "\n      UNION\n".join(
    f"      SELECT a.vec_id AS vec_a, c.vec_id AS vec_b"
    f" FROM b a JOIN b c ON a.band{j} = c.band{j} AND a.vec_id < c.vec_id"
    for j in range(LSH_BANDS)
)


@register("q_embed_near_dup", oracle=f"""
    WITH n AS ({_SQL_VECS}),
    b AS (SELECT vec_id, e, n2,
                 {", ".join(f"{_sql_band(j)} AS band{j}" for j in range(LSH_BANDS))}
          FROM n),
    pairs AS (
{_SQL_BAND_JOINS}
    ),
    p AS (SELECT pr.vec_a, pr.vec_b,
                 list_dot_product(x.e, y.e) / (sqrt(x.n2) * sqrt(y.n2)) AS cos
          FROM pairs pr
          JOIN b x ON x.vec_id = pr.vec_a
          JOIN b y ON y.vec_id = pr.vec_b)
    SELECT vec_a, vec_b, round(cos, 4) AS cosine
    FROM p WHERE round(cos, 6) >= {NEAR_DUP_COS}
    """)
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection via multi-band
    sign-LSH over SEEDED RANDOM HYPERPLANES: 4 bands of 16 sign bits,
    each bit the sign of a Rademacher (+-1) projection regenerated
    from LSH_SEED — a candidate pair = equal signature in ANY band.
    Random hyperplanes mix every dimension, so recall survives the
    correlated/anisotropic dims of real embeddings where round 2's
    axis-aligned planes collapse (variance concentrates in a few
    principal components -> minor-dim sign bits are noise); the
    recall ordering is property-tested on a correlated synthetic set.

    Scale shape: band signatures come from ONE GEMM per Arrow batch
    (similarity.sign_lsh_bands); the band relation (vec_id, band,
    sig — three scalars, no arrays) is cached once and self-joined
    for candidates by text.band_join (bounded buckets, never
    all-pairs; the MinHash and Hamming joins run it too); ONLY candidate
    pairs pay exact vector math, as a row-wise einsum
    (similarity.pairwise_cosine). Rounded before thresholding so a
    1-ulp divergence cannot flip membership. The DuckDB oracle
    regenerates the identical matrix as signed element sums, keeping
    the whole bucket structure hash-checked.

    Demo threshold note: 0.3 (production uses ~0.9) because the
    driver's synthetic vectors are near-orthogonal; the structural
    point (bounded buckets, candidates-only verification) is what
    carries to 100 TB."""
    from clinical_data_warehouse_bi_spark.similarity import (
        pairwise_cosine,
        sign_lsh_bands,
    )
    from clinical_data_warehouse_bi_spark.text import band_join

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    e = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", e.alias("e"))

    pairs = band_join(
        sign_lsh_bands(emb, _lsh_matrix(), LSH_BANDS, LSH_BAND_BITS), "vec_id"
    )
    va = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    vb = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    scored = pairwise_cosine(
        pairs.join(va, "vec_a").join(vb, "vec_b"),
        ("vec_a", "vec_b"),
        ("ea", "eb"),
    )
    return (
        scored.filter(F.round("cos", 6) >= F.lit(NEAR_DUP_COS))
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cosine"))
    )

# ---------------------------------------------------------------------------
# IVF-PQ served from the persisted index — the vector twin of
# q_bm25_served (round-10 registration per the round-9 verdict)
# ---------------------------------------------------------------------------


@register("q_ann_ivf_pq_served", oracle=None)
def q_ann_ivf_pq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served FROM the persisted IVF-PQ index
    (similarity.build_ivf_pq_index + search_ivf_pq_index) — the
    operational half of q_ann_ivf_pq, registered per the round-9
    verdict so the on-disk VECTOR index contract sits under the
    driver's gate like q_bm25_served put the text one: bucket=
    partitioned postings with m-byte PQ codes, centroids + codebooks
    as JSON inside the directory committed after the postings, probe
    restriction executed as PARTITION PRUNING on the bucket=
    directories (plan-asserted in tests/test_similarity_engine.py),
    ADC LUT-sum scoring per Arrow batch, and exact re-rank only on
    the per-query shortlist. The index is built once per corpus into
    a cache dir through io.cached_index; every later invocation
    is a pure pruned read — the 100 TB serving shape, where indexing
    cost is paid at ingest, not per query.

    No SQL oracle BY DESIGN (the q_ann_ivf_pq convention): the
    coarse quantizer and PQ codebooks come from seeded iterative
    Lloyd's, which no portable SQL reproduces. Value-level evidence
    in tests/test_similarity_engine.py: served == in-memory composed
    pipeline row for row on the same seeded quantizers, and recall
    >= 0.8 vs brute force on planted clusters."""
    from clinical_data_warehouse_bi_spark.similarity import (
        INDEX_META,
        IVF_PQ_FORMAT_VERSION,
        build_ivf_pq_index,
        search_ivf_pq_index,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    path = io.cached_index(
        sf_dir,
        "embeddings",
        f"ivfpq_v{IVF_PQ_FORMAT_VERSION}_k{LEARNED_K}_m{PQ_M}_s{LEARNED_SEED}",
        INDEX_META,
        lambda d: build_ivf_pq_index(
            emb, d, n_clusters=LEARNED_K, m=PQ_M, seed=LEARNED_SEED
        ),
    )
    return search_ivf_pq_index(
        spark,
        path,
        emb,
        n_queries=N_QUERIES,
        nprobe=NPROBE,
        shortlist=PQ_SHORTLIST,
        topk=5,
    )


#: graph-ANN geometry for the registered serving demo: enough shards
#: to prove the fan-out/merge path, links and beam sized for >=0.9
#: recall on the driver corpus (recall property-tested on planted
#: clusters in tests/test_hnsw.py)
HNSW_SHARDS = 4
HNSW_M = 12
HNSW_BEAM = 32


@register("q_ann_hnsw", oracle=None)
def q_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-class graph ANN served FROM a persisted hash-sharded
    small-world index (hnsw.build_hnsw_index + hnsw_index_search), the
    high-recall serving alternative to IVF-PQ, under the driver's gate
    next to q_ann_ivf_pq_served and q_bm25_served: shard=-partitioned
    parquet adjacency + vectors, meta JSON committed last, atomic
    publish, ONE beam-search task per shard for all queries, and a
    global (query_id) top-k merge as the only post-scan exchange.

    No SQL oracle BY DESIGN (the q_ann_ivf_pq convention): beam
    search over a k-NN graph is an iterative traversal no portable
    SQL reproduces. Value-level evidence in tests/test_hnsw.py:
    recall >= 0.9 vs exact brute force on planted clusters, recall
    at EQUAL distance-eval budget >= a random-scan baseline,
    served == inline equality, graph structural invariants, and the
    format-version guard."""
    from clinical_data_warehouse_bi_spark.hnsw import (
        HNSW_FORMAT_VERSION,
        HNSW_INDEX_META,
        build_hnsw_index,
        hnsw_index_search,
    )
    from clinical_data_warehouse_bi_spark.similarity import query_vectors

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    path = io.cached_index(
        sf_dir,
        "embeddings",
        f"hnsw_v{HNSW_FORMAT_VERSION}_s{HNSW_SHARDS}_m{HNSW_M}",
        HNSW_INDEX_META,
        lambda d: build_hnsw_index(emb, d, n_shards=HNSW_SHARDS, m=HNSW_M),
    )
    return hnsw_index_search(
        spark, path, query_vectors(emb, N_QUERIES), k=5, beam=HNSW_BEAM
    )


#: routed tier geometry: 8 cells so the 2-cell probe is a 25% scan
HNSW_ROUTED_CLUSTERS = 8
HNSW_PROBE_CLUSTERS = 2


def q_ann_hnsw_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN served through the ROUTED tier
    (hnsw.build_routed_hnsw_index + hnsw_routed_search): the IVF
    layout with a graph per cell. Shard = k-means cell; rows are
    assigned and queries routed by IVF's own coarse quantizer
    (similarity.rank_centroids), with the centroids in the index meta.
    Each query probes its top-2 of 8 cells: a partition-pruned scan
    of 25% of the shard= directories, the sublinear serving path the
    full fan-out (q_ann_hnsw) lacks at large shard counts. Bench-only:
    tests/test_hnsw.py pins recall >= 0.85 at the 25% probe fraction
    and fewer distance evals than fan-out."""
    from clinical_data_warehouse_bi_spark.hnsw import (
        HNSW_FORMAT_VERSION,
        HNSW_INDEX_META,
        build_routed_hnsw_index,
        hnsw_routed_search,
    )
    from clinical_data_warehouse_bi_spark.similarity import query_vectors

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    path = io.cached_index(
        sf_dir,
        "embeddings",
        f"hnsw_routed_v{HNSW_FORMAT_VERSION}_c{HNSW_ROUTED_CLUSTERS}_m{HNSW_M}",
        HNSW_INDEX_META,
        lambda d: build_routed_hnsw_index(
            emb, d, n_clusters=HNSW_ROUTED_CLUSTERS, m=HNSW_M
        ),
    )
    return hnsw_routed_search(
        spark, path, query_vectors(emb, N_QUERIES), k=5, beam=HNSW_BEAM,
        probe_clusters=HNSW_PROBE_CLUSTERS,
    )
