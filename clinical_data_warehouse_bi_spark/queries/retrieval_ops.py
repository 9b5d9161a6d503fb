"""Registered retrieval queries (beyond-reference, round 8):
BM25 lexical search over the documents corpus — the keyword-side
counterpart to the registered dense-ANN family (q_cosine_topk,
q_ann_ivf_pq). See retrieval.py for the scale contract: the
single-query path never explodes or shuffles document data (per-term
tf as array expressions, one 1-row broadcast stats aggregate, final
TakeOrderedAndProject)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import io, retrieval
from clinical_data_warehouse_bi_spark.io import load_tables
from clinical_data_warehouse_bi_spark.registry import register

#: fixed flagship query — terms chosen to hit the synthetic corpus's
#: vocabulary with distinct document frequencies
BM25_TERMS = ["hash", "join", "spark"]
BM25_K = 50

SQL_BM25_TOPK = retrieval.bm25_topk_oracle_sql(BM25_TERMS, BM25_K)


@register("q_bm25_topk", oracle=SQL_BM25_TOPK)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k for a fixed 3-term query over documents.

    Shuffle-free scoring: tf per query term is a per-row
    size(filter(tokens, ...)) expression, corpus statistics (N,
    sum dl, per-term df) reduce to ONE broadcast row, and the top-k
    is a TakeOrderedAndProject — document text never enters an
    exchange. Scores rounded to 4 decimals in both engines (ln is
    not IEEE-correctly-rounded); ties broken by doc_id."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return retrieval.bm25_topk(docs, BM25_TERMS, BM25_K)


#: hybrid fusion parameters — each leg contributes its top-``POOL``,
#: the fused list keeps HYBRID_K
HYBRID_POOL = 50
HYBRID_K = 20

_SQL_VECS = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
"""


@register("q_hybrid_topk", oracle=f"""
    WITH bm AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM ({retrieval.bm25_topk_oracle_sql(BM25_TERMS, HYBRID_POOL)})),
    n AS ({_SQL_VECS}),
    q AS (SELECT e AS qe, n2 AS qn2 FROM n WHERE vec_id = 0),
    dense_all AS (
      SELECT c.vec_id AS doc_id,
             list_dot_product(q.qe, c.e) / (sqrt(q.qn2) * sqrt(c.n2)) AS cos
      FROM q, n c),
    dense AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(cos, 6) DESC, doc_id ASC) AS rank
      FROM (SELECT * FROM dense_all
            ORDER BY round(cos, 6) DESC, doc_id ASC LIMIT {HYBRID_POOL})),
    u AS (SELECT doc_id, rank FROM bm
          UNION ALL SELECT doc_id, rank FROM dense)
    SELECT doc_id, round(sum(1.0 / (60.0 + rank)), 8) AS rrf_score
    FROM u GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id ASC LIMIT {HYBRID_K}
    """)
def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical + dense retrieval (retrieval.hybrid_topk):
    BM25 top-{HYBRID_POOL} fused with brute-force cosine
    top-{HYBRID_POOL} by reciprocal rank (Cormack et al. 2009 RRF) —
    the composition a RAG/curation stack serves. The dense query is
    the corpus's own vector 0 (a bounded 1-row lookup, deterministic
    in both engines); document ids and vector ids share the id
    space, the usual layout when embeddings are computed per doc.

    Scale shape: each leg keeps its own registered shape (BM25's
    shuffle-free single-query scoring; cosine's map-side fold +
    TakeOrdered) and only the two bounded top-k lists meet in the
    fusion groupBy — O(legs x pool) rows. Rank-based fusion needs no
    score calibration, which is why both engines agree to the 8th
    decimal. Registered per the round-8 verdict (q_hybrid_topk named
    a ready oracle candidate)."""
    t = load_tables(spark, sf_dir, ("documents", "embeddings"))
    qvec = [
        float(x)
        for x in t["embeddings"]
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    return retrieval.hybrid_topk(
        t["documents"],
        t["embeddings"],
        BM25_TERMS,
        qvec,
        HYBRID_K,
        pool=HYBRID_POOL,
    )


@register("q_bm25_served", oracle=SQL_BM25_TOPK)
def q_bm25_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served FROM the persisted inverted index
    (retrieval.bm25_index_build + bm25_index_search) — the
    operational half of q_bm25_topk, registered per the round-8
    verdict so the on-disk index contract (md5 term-bucket partition
    pruning, corpus stats in the meta file written last) sits under
    the driver's gate. The index is built once per corpus through
    io.cached_index; every later invocation is a pure pruned read —
    the 100 TB serving shape, where indexing cost is paid at ingest,
    not per query.

    Full oracle since round 13 (round-12 verdict item 2): the served
    per-doc total now folds per-term contributions in FIXED query
    order (bm25_index_search), making the served score BIT-IDENTICAL
    to bm25_topk's inline expression tree — so q_bm25_topk's DuckDB
    oracle applies verbatim; tests/test_retrieval.py pins
    served==inline exactly."""

    def build(path: str) -> None:
        docs = load_tables(spark, sf_dir, ("documents",))["documents"]
        retrieval.bm25_index_build(docs, path, n_buckets=32)

    path = io.cached_index(
        sf_dir, "documents", f"bm25_{retrieval.BM25_FORMAT_VERSION}_b32",
        retrieval.BM25_INDEX_META, build,
    )
    return retrieval.bm25_index_search(spark, path, BM25_TERMS, BM25_K)
