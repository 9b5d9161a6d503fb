"""Similarity-search engine pieces beyond the oracle-checked queries
(queries/similarity.py): the Arrow-batched numpy path for brute-force
top-k and pairwise cosine, sign-LSH bands, a sampled k-means IVF
quantizer, and IVF-PQ search with its persisted index.

Why a second implementation of cosine top-k: the SQL-expression form
(F.aggregate fold over arrays) is portable and oracle-checkable, but
folds element-by-element inside codegen. At real embedding scale
(billions of vectors x hundreds of dims) the winning shape is a
matrix multiply over Arrow-delivered batches — numpy BLAS does
batch_rows x dims @ dims x n_queries in one GEMM per batch. That is
exactly what mapInPandas gives us WITHOUT leaving Spark's execution
model: scan partitions stream in as pandas frames, each emits its
partial top-k, and a final tiny reduce merges k rows per query.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.io import local_frame

TOPK_SCHEMA = "qid long, nid long, cos double"


def cosine_topk_numpy(vectors: DataFrame, queries: list[tuple[int, list[float]]],
                      k: int = 10) -> DataFrame:
    """Brute-force cosine top-k via numpy GEMM inside mapInPandas.

    ``vectors``: (vec_id, embedding array<float>). ``queries``: small
    driver-side list [(qid, vector)] — broadcast into every task via
    closure capture (Arrow-serialized once per executor).

    Plan shape: scan -> mapInPandas (partition-local GEMM + partial
    top-k, output k rows per query per partition) -> global top-k
    window over the tiny partial set. No shuffle of the vector table,
    ever; the only exchanged data is |partitions| x |queries| x k
    rows."""
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = np.array([q[1] for q in queries], dtype=np.float64)  # Q x D
    qnorm = np.linalg.norm(qmat, axis=1)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)  # N x D
            norms = np.linalg.norm(mat, axis=1)
            sims = (mat @ qmat.T) / np.outer(norms, qnorm)  # N x Q
            out = []
            for j, qid in enumerate(qids):
                col = sims[:, j]
                mask = ids != qid  # exclude self-match
                cand_idx = np.nonzero(mask)[0]
                if cand_idx.size == 0:
                    continue
                # partial top-k under the SAME total order the final
                # window uses — (round(cos, 6) desc, nid asc) — so the
                # global top-k of per-partition top-ks is exactly the
                # top-k of the union (a raw-cos partial order could
                # drop a row that wins a rounded tie by neighbor id)
                order = np.lexsort(
                    (ids[cand_idx], -np.round(col[cand_idx], 6))
                )
                top = cand_idx[order[:k]]
                out.append(pd.DataFrame({
                    "qid": qid, "nid": ids[top], "cos": col[top]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    partials = vectors.select("vec_id", "embedding").mapInPandas(op, TOPK_SCHEMA)
    return _rank_by_cosine(partials, k)


def _rank_by_cosine(scored: DataFrame, topk: int) -> DataFrame:
    """(qid, nid, cos) -> (qid, nid, rank, cosine): the top ``topk``
    rows per query under the engine's total order — (round(cos, 6)
    desc, nid asc) — with the cosine shown to 4 places."""
    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("cos"), 6).desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("qid", "nid", "rank", F.round("cos", 4).alias("cosine"))
    )


def pairwise_cosine(
    pairs: DataFrame,
    id_cols: tuple[str, str],
    vec_cols: tuple[str, str],
    out_col: str = "cos",
) -> DataFrame:
    """Vectorized cosine for an explicit candidate-pair relation:
    (id_a, id_b, vec_a, vec_b) -> (id_a, id_b, cos), one einsum (row-
    wise dot) + two norm reductions per Arrow batch instead of a
    ~3x64-step scalar codegen fold per row. This is the exact-verify
    stage of every LSH/IVF pipeline — per-candidate work a cluster
    pays at any scale, which is why it runs as numpy over Arrow
    batches rather than expression folds (measured 37x vs DuckDB as
    a fold; see BASELINE.md round 2).

    The id columns must be integral (emitted as longs); vectors may
    be float32 arrays — promoted exactly to float64, matching a SQL
    CAST(... AS DOUBLE[])."""
    ida, idb = id_cols
    va, vb = vec_cols

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(pdf[va].tolist(), dtype=np.float64)
            b = np.array(pdf[vb].tolist(), dtype=np.float64)
            cos = np.einsum("ij,ij->i", a, b) / (
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            )
            yield pd.DataFrame(
                {
                    ida: pdf[ida].to_numpy(dtype=np.int64),
                    idb: pdf[idb].to_numpy(dtype=np.int64),
                    out_col: cos,
                }
            )

    return pairs.select(ida, idb, va, vb).mapInPandas(
        op, f"{ida} long, {idb} long, {out_col} double"
    )


def rademacher_matrix(seed: int, planes: int, dims: int) -> list[list[int]]:
    """Seeded +-1 random-hyperplane matrix, reproducible from an
    integer seed via md5 (no RNG state: any engine/language can
    regenerate the identical matrix, which is how the DuckDB oracle
    applies the same projection). Rademacher entries are the standard
    sign-LSH choice (Charikar-style random hyperplanes); unlike
    axis-aligned planes they mix every dimension, so recall survives
    correlated/anisotropic real-world embedding dims (see
    tests/test_properties.py recall property)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[0], 16) >= 8
            else -1
            for d in range(dims)
        ]
        for p in range(planes)
    ]


def axis_matrix(planes: int, dims: int) -> list[list[int]]:
    """Axis-aligned plane matrix (plane p tests sign(x[p % dims])) —
    the round-2 banding, kept as the recall-comparison baseline."""
    return [[1 if d == p % dims else 0 for d in range(dims)] for p in range(planes)]


def sign_lsh_bands(
    vectors: DataFrame,
    matrix: list[list[int]],
    n_bands: int,
    band_bits: int,
) -> DataFrame:
    """(vec_id, band, sig): multi-band sign-LSH signatures via one
    GEMM per Arrow batch — bits = (X @ R^T >= 0), band j's signature
    packs its ``band_bits`` bits big-endian. The projection is the
    broadcast literal ``matrix`` (planes x dims, +-1 entries), so the
    identical banding is expressible in SQL as signed element sums —
    the DuckDB oracle runs exactly that, keeping the bucket structure
    hash-checkable."""
    rmat = np.array(matrix, dtype=np.float64)  # planes x dims
    weights = [
        np.array([1 << (band_bits - 1 - i) for i in range(band_bits)], dtype=np.int64)
        for _ in range(n_bands)
    ]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            bits = (mat @ rmat.T) >= 0  # N x planes
            out = []
            for j in range(n_bands):
                sig = bits[:, j * band_bits : (j + 1) * band_bits].astype(
                    np.int64
                ) @ weights[j]
                out.append(
                    pd.DataFrame({"vec_id": ids, "band": j, "sig": sig})
                )
            yield pd.concat(out, ignore_index=True)

    return vectors.select("vec_id", "embedding").mapInPandas(
        op, "vec_id long, band int, sig long"
    )


def rank_centroids(
    vectors: list, centroids: list[tuple[int, list[float]]], max_rank: int,
    metric: str,
) -> np.ndarray:
    """The engine's one coarse quantizer: the ``max_rank`` best
    centroid ids of each of N ``vectors``, best first (N x max_rank).
    One GEMM, then one row-wise lexsort under (round(score, 6), cid
    asc), the total order the SQL form uses. IVF assignment and
    probes, IVF-PQ probes and the routed HNSW tier's cells all rank
    here. ``metric``: "cosine" (descending, the oracle-checked form)
    or "euclidean" (ascending distance, k-means' own assignment rule,
    so probes of learned centroids agree with the bucketing)."""
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    mat = np.array(vectors, dtype=np.float64)
    dots = mat @ cmat.T  # N x C — the one GEMM either way
    if metric == "cosine":
        # descending cosine -> negate for the ascending sort
        norms = np.outer(np.linalg.norm(mat, axis=1), np.linalg.norm(cmat, axis=1))
        score = -np.round(dots / norms, 6)
    else:
        # |x - c|^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 is constant per row
        # so the ranking needs only |c|^2 - 2 x.c
        csq = np.einsum("ij,ij->i", cmat, cmat)
        score = np.round(csq[None, :] - 2.0 * dots, 6)
    order = np.lexsort((np.broadcast_to(cids, score.shape), score), axis=1)
    return cids[order[:, :max_rank]]


def centroid_rank(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    max_rank: int,
    metric: str = "cosine",
) -> DataFrame:
    """(vec_id, cid, rn): each vector's centroids ranked by
    rank_centroids — rn=1 is the IVF bucket assignment, rn<=nprobe the
    probe set. One broadcast-GEMM Arrow pass replaces a crossJoin +
    scalar-fold + window (the window's shuffle disappears: ranking
    happens inside the batch)."""
    if metric not in ("cosine", "euclidean"):
        raise ValueError(f"unknown metric: {metric!r}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            top = rank_centroids(pdf["embedding"].tolist(), centroids, max_rank, metric)
            n, r = top.shape
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(dtype=np.int64), r),
                "cid": top.ravel(),
                "rn": np.tile(np.arange(1, r + 1), n),
            })

    return vectors.select("vec_id", "embedding").mapInPandas(
        op, "vec_id long, cid long, rn int"
    )


def sampled_kmeans_centroids(
    vectors: DataFrame,
    n_clusters: int,
    seed: int = 7,
) -> list[tuple[int, list[float]]]:
    """Learned IVF centroids the way a production quantizer is
    actually trained: Lloyd's k-means on a BOUNDED sample, fit on the
    driver in numpy. The sample is the 4096 hash-smallest vec_ids —
    a per-partition top-M + k-row merge (TakeOrdered), no full
    shuffle, deterministic and content-independent at any scale — so
    the driver holds O(4096 x dims) regardless of table size.
    k-means++ seeding + empty-cluster reseeding, 8 restarts of a
    fixed iteration count, all driven by a seeded RNG: the same data
    gives the same centroids run-to-run.

    Compared to distributing the fit (MLlib): a quantizer needs only
    a representative sample (FAISS trains IVF
    cells exactly this way), and the distributed fit pays ~2 job
    barriers PER ITERATION — pure scheduling latency that dwarfs the
    math at any k where IVF makes sense. Assignment of the full table
    stays distributed either way (centroid_rank's broadcast-GEMM
    Arrow pass)."""
    best = _lloyd(_hash_sample(vectors, 4096), n_clusters, seed, n_init=8)
    return [(j, [float(v) for v in best[j]]) for j in range(n_clusters)]


def _hash_sample(vectors: DataFrame, cap: int) -> np.ndarray:
    """The vectors of the ``cap`` hash-smallest vec_ids, in id order
    (RNG-independent): a TakeOrdered, no full shuffle."""
    rows = (
        vectors.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(cap)
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    return np.array([list(r["embedding"]) for r in rows], dtype=np.float64)


def _sq_dists(x: np.ndarray, xsq: np.ndarray, c: np.ndarray) -> np.ndarray:
    """|x-c|^2 for every (row of x, row of c) pair via the GEMM
    identity — one matmul instead of an O(N x k x D) broadcast
    temporary; ``xsq`` is x's row norms squared."""
    return np.maximum(
        xsq[:, None] - 2.0 * (x @ c.T) + np.einsum("ij,ij->i", c, c)[None, :],
        0.0,
    )


def _kmeanspp_init(
    x: np.ndarray, xsq: np.ndarray, n_clusters: int, rng: np.random.RandomState
) -> np.ndarray:
    """k-means++ seeding: each next center is drawn with probability
    proportional to a sample's squared distance to its nearest chosen
    center. That distance is a running minimum updated with the newest
    center's column only, O(k N d) per restart."""
    centers = [x[rng.randint(len(x))]]
    d2 = None
    for _ in range(1, n_clusters):
        newest = _sq_dists(x, xsq, centers[-1][None, :])[:, 0]
        d2 = newest if d2 is None else np.minimum(d2, newest)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(x), 1.0 / len(x))
        centers.append(x[rng.choice(len(x), p=probs)])
    return np.array(centers)


def _lloyd(x: np.ndarray, n_clusters: int, seed: int, n_init: int) -> np.ndarray:
    """Seeded restarted Lloyd's k-means over a driver-side sample —
    the shared fit core of the learned-IVF quantizer and the PQ
    sub-quantizers. k-means++ init, 20 iterations, distinct
    farthest-point reseeding of empty clusters, lowest-inertia
    restart wins; byte-deterministic for a given (x, seed)."""
    xsq = np.einsum("ij,ij->i", x, x)
    best, best_inertia = None, None
    for trial in range(n_init):  # restarts: keep the lowest-inertia fit
        rng = np.random.RandomState(seed + trial)
        c = _kmeanspp_init(x, xsq, n_clusters, rng)
        for _ in range(20):
            d2 = _sq_dists(x, xsq, c)
            assign = d2.argmin(axis=1)
            far = None  # farthest-first order, computed on demand
            n_far = 0
            for j in range(n_clusters):
                members = x[assign == j]
                if len(members):
                    c[j] = members.mean(axis=0)
                else:
                    # empty cluster: reseed to the NEXT-farthest point
                    # — successive empty clusters get DISTINCT seeds
                    # (one shared farthest point would leave duplicate
                    # centroids wasting IVF buckets); the modulo only
                    # cycles when n_clusters exceeds the sample size,
                    # where duplicates are unavoidable
                    if far is None:
                        far = np.argsort(-d2.min(axis=1), kind="stable")
                    c[j] = x[far[n_far % len(far)]]
                    n_far += 1
        inertia = float(_sq_dists(x, xsq, c).min(axis=1).sum())
        if best_inertia is None or inertia < best_inertia:
            best, best_inertia = c, inertia
    return best


def ivf_search(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_queries: int,
    nprobe: int,
    topk: int = 5,
    metric: str = "euclidean",
) -> DataFrame:
    """The IVF search pipeline over EXPLICIT centroids: assign every
    vector to its nearest centroid (rn=1), rank each query's nprobe
    nearest centroids, exact-cosine-score ONLY candidates from probed
    buckets, top-``topk`` per query under the engine's standard total
    order. Both ranking stages are broadcast-GEMM Arrow passes
    (centroid_rank); candidate scoring is a row-wise einsum
    (pairwise_cosine). ``metric`` picks the bucketing geometry and
    must match how the centroids were trained (euclidean for Lloyd's
    k-means, cosine for first-N-vector demos)."""
    cand = _ivf_candidates(vectors, centroids, n_queries, nprobe, metric)
    return _rerank(vectors, cand, n_queries, topk)


def _ivf_candidates(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_queries: int,
    nprobe: int,
    metric: str,
) -> DataFrame:
    """(qid, nid): every vector bucketed (rn=1) into one of the query's
    ``nprobe`` nearest centroids, the query itself excluded; a vector
    has one bucket and the probed buckets differ, so no pair repeats."""
    assign = centroid_rank(vectors, centroids, max_rank=1, metric=metric).select(
        F.col("vec_id").alias("nid"), F.col("cid").alias("cb")
    )
    probes = centroid_rank(
        vectors.filter(F.col("vec_id") < n_queries),
        centroids,
        max_rank=nprobe,
        metric=metric,
    ).select(F.col("vec_id").alias("qid"), F.col("cid").alias("bucket"))
    return (
        probes.join(assign, F.col("bucket") == F.col("cb"))
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid")
    )


def _rerank(
    vectors: DataFrame, cand: DataFrame, n_queries: int, topk: int
) -> DataFrame:
    """The exact verify stage of every IVF search: join a (qid, nid)
    candidate relation to the query and candidate raw vectors, score
    the pairs with pairwise_cosine and keep the top ``topk`` per query
    (_rank_by_cosine). Queries are the table's first ``n_queries``
    vectors."""
    qvecs = vectors.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    pairs = cand.join(qvecs, "qid").join(
        vectors.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("e")),
        "nid",
    )
    return _rank_by_cosine(pairwise_cosine(pairs, ("qid", "nid"), ("qe", "e")), topk)


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 256,
    seed: int = 7,
    sample_cap: int = 4096,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jegou et al., "Product
    Quantization for Nearest Neighbor Search"): split the D dims into
    ``m`` contiguous subspaces and fit a ``ksub``-codeword quantizer
    per subspace — the compressed-vector scale path: a 64-dim float32
    vector (256 bytes) becomes m=8 one-byte codes, a 32x memory cut,
    which is what lets 100 TB of embeddings fit an IVF index's hot
    tier at all.

    Training follows the sampled-quantizer decision (SURVEY.md §9
    item 11): driver-side seeded Lloyd's (the shared ``_lloyd`` core)
    over the hash-smallest ``sample_cap`` vectors — TakeOrdered, no
    full shuffle — one independent fit per subspace (seed offset by
    subspace so codebooks differ). Returns
    codebooks[sub][code][subdim], plain floats for closure capture.

    D must divide by ``m`` (PQ's standard constraint)."""
    x = _hash_sample(vectors, sample_cap)
    dims = x.shape[1]
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    dsub = dims // m
    k = min(ksub, len(x))  # degenerate tiny samples: fewer codewords
    books = []
    for sub in range(m):
        xs = x[:, sub * dsub : (sub + 1) * dsub]
        c = _lloyd(xs, k, seed + 1000 * sub, n_init=4)
        books.append([[float(v) for v in row] for row in c])
    return books


def pq_encode(vectors: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """(vec_id, codes binary): each vector's nearest codeword per
    subspace, one byte each — one GEMM per (subspace, Arrow batch)
    against the broadcast codebook, no shuffle. The m-byte code is the
    PQ index's one form: it bounds caches, Arrow transfer and
    broadcasts to m bytes a vector (on parquet at rest an int array
    costs about the same, ~1.2 B/element through its dictionary). A
    codebook over 256 codewords (PQ's ksub <= 256 invariant) raises
    rather than wrapping its codes modulo 256."""
    mats = [np.array(b, dtype=np.float64) for b in codebooks]
    ksub = max(len(c) for c in mats)
    if ksub > 256:
        raise ValueError(f"PQ codes are one byte: {ksub} codewords > 256")
    csq = [np.einsum("ij,ij->i", c, c) for c in mats]
    m = len(mats)
    dsub = mats[0].shape[1]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            codes = np.empty((len(ids), m), dtype=np.uint8)
            for sub in range(m):
                xs = mat[:, sub * dsub : (sub + 1) * dsub]
                # argmin |x-c|^2 == argmin |c|^2 - 2 x.c (|x|^2 const/row)
                codes[:, sub] = np.argmin(
                    csq[sub][None, :] - 2.0 * (xs @ mats[sub].T), axis=1
                )
            yield pd.DataFrame({"vec_id": ids, "codes": [c.tobytes() for c in codes]})

    return vectors.select("vec_id", "embedding").mapInPandas(
        op, "vec_id long, codes binary"
    )


def query_vectors(vectors: DataFrame, n_queries: int) -> list[tuple[int, list]]:
    """The first ``n_queries`` vectors, collected driver-side in id
    order — bounded, like every query-side structure here."""
    rows = vectors.filter(F.col("vec_id") < n_queries).select("vec_id", "embedding")
    return sorted((r["vec_id"], list(r["embedding"])) for r in rows.collect())


def _adc_tables(
    queries: list[tuple[int, list]], codebooks: list[list[list[float]]]
) -> dict[int, np.ndarray]:
    """Per-query ADC (asymmetric distance computation) lookup tables:
    ``tables[qid][s, c]`` is the squared distance from the query's
    subspace-``s`` slice to codeword ``c``, so a PQ-coded vector's
    distance to the query is a sum of m table entries."""
    mats = [np.array(b, dtype=np.float64) for b in codebooks]
    tables = {}
    for qid, qv in queries:
        subs = np.asarray(qv, dtype=np.float64).reshape(len(mats), -1)
        tables[qid] = np.stack([np.sum((c - q) ** 2, axis=1) for c, q in zip(mats, subs)])
    return tables


def _adc_shortlist(
    cand: DataFrame, tables: dict[int, np.ndarray], shortlist: int
) -> DataFrame:
    """(qid, nid, codes binary) -> (qid, nid): each query's
    ``shortlist`` candidates nearest by ADC distance (round(d, 6) asc,
    nid asc), scored per Arrow batch without touching a float vector."""

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            qids = pdf["qid"].to_numpy(dtype=np.int64)
            codes = np.frombuffer(b"".join(pdf["codes"]), dtype=np.uint8)
            codes = codes.reshape(len(pdf), -1)
            sub_idx = np.arange(codes.shape[1])[None, :]
            dist = np.empty(len(qids), dtype=np.float64)
            for qid in np.unique(qids):
                rows = qids == qid
                dist[rows] = tables[qid][sub_idx, codes[rows]].sum(axis=1)
            yield pd.DataFrame(
                {"qid": qids, "nid": pdf["nid"].to_numpy(dtype=np.int64), "adist": dist}
            )

    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("adist"), 6).asc(), F.col("nid").asc()
    )
    return (
        cand.mapInPandas(adc, "qid long, nid long, adist double")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= shortlist)
        .select("qid", "nid")
    )


def ivf_pq_search(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    n_queries: int,
    nprobe: int,
    shortlist: int = 50,
    topk: int = 5,
) -> DataFrame:
    """The full FAISS-style ANN pipeline, composed from this module's
    pieces: IVF probe (broadcast-GEMM centroid ranking) restricts
    candidates to ``nprobe`` buckets; PQ asymmetric distance over the
    codes relation scores those candidates WITHOUT touching float
    vectors (per-query LUT-sum, vectorized per Arrow batch); the top
    ``shortlist`` per query then pays exact cosine on raw vectors —
    the re-rank that restores ranking fidelity ADC trades away
    (tests/test_similarity_engine.py pins that trade). At 100 TB the
    float vectors live cold/columnar and only bucket assignment, the
    m-byte codes, and the shortlist rows are ever hot.

    Queries are the table's first ``n_queries`` vectors (the engine's
    demo convention), collected driver-side to build the LUTs."""
    tables = _adc_tables(query_vectors(vectors, n_queries), codebooks)
    codes = pq_encode(vectors, codebooks).withColumnRenamed("vec_id", "nid")
    cand = _ivf_candidates(vectors, centroids, n_queries, nprobe, "euclidean")
    short = _adc_shortlist(cand.join(codes, "nid"), tables, shortlist)
    return _rerank(vectors, short, n_queries, topk)


#: metadata filename inside a persisted IVF-PQ index directory
INDEX_META = "_index_meta.json"

#: on-disk layout version for persisted IVF-PQ indexes — bump on any
#: postings/metadata layout change so cached serving directories keyed
#: by it (queries.similarity.q_ann_ivf_pq_served) can never serve a
#: stale format (the retrieval.BM25_FORMAT_VERSION convention)
IVF_PQ_FORMAT_VERSION = 1


def build_ivf_pq_index(
    vectors: DataFrame,
    path: str,
    n_clusters: int = 16,
    m: int = 8,
    seed: int = 7,
) -> dict:
    """Persist a servable IVF-PQ index: train the coarse quantizer
    and PQ codebooks (bounded driver-side fits, the FAISS recipe),
    assign + encode every vector distributed (broadcast-GEMM, no
    shuffle), and write the postings as parquet PARTITIONED BY
    BUCKET with the m-byte packed codes. The partition layout IS the
    index's access path: a search touches nprobe/n_clusters of the
    files via partition pruning, never the whole postings set —
    the on-disk analogue of the in-memory probe restriction, and the
    missing operational half of q_ann_ivf_pq (a production index is
    built once and served from storage by later sessions, not
    refit per process).

    Metadata (centroids + codebooks, a few KB) lands as JSON inside
    the directory, written AFTER the postings commit so a complete
    meta file implies complete postings. Returns the metadata dict."""
    centroids = sampled_kmeans_centroids(vectors, n_clusters, seed=seed)
    codebooks = train_pq_codebooks(vectors, m=m, seed=seed)
    assign = centroid_rank(
        vectors, centroids, max_rank=1, metric="euclidean"
    ).select("vec_id", F.col("cid").alias("bucket"))
    codes = pq_encode(vectors, codebooks)
    postings = codes.join(assign, "vec_id").select("vec_id", "codes", "bucket")
    postings.write.mode("overwrite").partitionBy("bucket").parquet(path)
    meta = {
        "centroids": [[int(c), [float(x) for x in v]] for c, v in centroids],
        "codebooks": codebooks,
        "m": m,
        "n_clusters": n_clusters,
    }
    with open(os.path.join(path, INDEX_META), "w") as f:
        json.dump(meta, f)
    return meta


def search_ivf_pq_index(
    spark,
    path: str,
    vectors: DataFrame,
    n_queries: int,
    nprobe: int,
    shortlist: int = 50,
    topk: int = 5,
) -> DataFrame:
    """Serve ANN queries FROM the persisted index: probe selection
    ranks the loaded centroids driver-side (queries are bounded) with
    rank_centroids, the rule the buckets were assigned with; the
    postings scan filters to the probed buckets, which
    Catalyst turns into PARTITION PRUNING on the bucket= directories
    (plan-tested) — the scan reads ~nprobe/n_clusters of the index
    regardless of corpus size; ADC LUT-sums score the packed codes
    per Arrow batch; only the per-query shortlist pays exact cosine
    against the float vector table (semi-joined by id). No training,
    no full-index pass, no shuffle of anything corpus-sized."""
    with open(os.path.join(path, INDEX_META)) as f:
        meta = json.load(f)  # the complete-iff-present commit marker
    queries = query_vectors(vectors, n_queries)
    top = rank_centroids(
        [v for _, v in queries], meta["centroids"], nprobe, "euclidean"
    )
    probe_rows = [(qid, int(c)) for (qid, _), cs in zip(queries, top) for c in cs]
    buckets = sorted({b for _, b in probe_rows})
    probes = local_frame(spark, probe_rows, "qid long, bucket int")
    postings = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    cand = (
        postings.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"), "codes")
    )
    tables = _adc_tables(queries, meta["codebooks"])
    return _rerank(vectors, _adc_shortlist(cand, tables, shortlist), n_queries, topk)
