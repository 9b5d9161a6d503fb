"""BM25 retrieval (retrieval.py) and the declarative expectation
suite (qa.expectation_report): semantics, served==inline equality,
and the plan shapes that carry them to 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import qa, retrieval
from clinical_data_warehouse_bi_spark.io import load_tables
from test_plans import physical_plan


# ---------------------------------------------------------------- BM25

def test_bm25_single_query_never_shuffles_docs(spark, sf_dir):
    """Scale contract: per-term tf is a per-row array expression —
    no explode, no hash-partition exchange of document rows; the
    top-k is a TakeOrderedAndProject."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    plan = physical_plan(retrieval.bm25_topk(docs, ["hash", "join"], 10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" not in plan


def test_bm25_idf_favors_rare_terms(spark):
    """A doc matching only the rare term must outscore a doc
    matching only the ubiquitous term (equal tf and length)."""
    rows = [(0, "rare alpha beta gamma"), (1, "common alpha beta gamma")]
    rows += [(i, "common filler one two") for i in range(2, 22)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_topk(docs, ["rare", "common"], 50).collect()
    }
    assert got[0] > got[1]


def test_bm25_tf_saturates(spark):
    """More occurrences score higher, but sub-linearly (k1 cap)."""
    docs = spark.createDataFrame(
        [
            (0, "hash miss miss miss"),
            (1, "hash hash miss miss"),
            (2, "hash hash hash hash"),
            (3, "miss miss miss miss"),
        ],
        ["doc_id", "text"],
    )
    res = retrieval.bm25_topk(docs, ["hash"], 10).collect()
    got = {r["doc_id"]: r["score"] for r in res}
    assert 3 not in got  # zero matches filtered out
    assert got[2] > got[1] > got[0]
    # saturation: tf 1->2 gains more than tf 2->4
    assert (got[1] - got[0]) > (got[2] - got[1])


def test_bm25_rejects_bad_terms(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    with pytest.raises(ValueError):
        retrieval.bm25_topk(docs, [], 10)
    with pytest.raises(ValueError):
        retrieval.bm25_topk(docs, ["Hash Join"], 10)


# ----------------------------------------------- expectation suite

def test_expectation_report_planted_violations(spark):
    """Every check kind against tables with KNOWN defect counts."""
    orders = spark.createDataFrame(
        [
            (1, 10, "O", 5.0),
            (2, 11, "F", -3.0),   # range violation (totalprice < 0)
            (3, None, "X", 7.0),  # null FK + bad status
            (3, 12, "O", 2.0),    # duplicate key; custkey 12 orphan
        ],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )
    customer = spark.createDataFrame([(10,), (11,)], ["c_custkey"])
    spec = [
        {"check": "not_null", "table": "orders", "column": "o_custkey"},
        {"check": "accepted_range", "table": "orders",
         "column": "o_totalprice", "lo": 0.0, "hi": None},
        {"check": "accepted_values", "table": "orders",
         "column": "o_orderstatus", "values": ["O", "F"]},
        {"check": "unique", "table": "orders", "columns": ["o_orderkey"]},
        {"check": "referential", "table": "orders", "column": "o_custkey",
         "ref_table": "customer", "ref_column": "c_custkey"},
        {"check": "cross_sum", "name": "orders_vs_customers",
         "table": "orders", "expr": "count(distinct o_custkey)",
         "other_table": "customer", "other_expr": "count(*)"},
    ]
    rep = {
        r["check_name"]: (r["violations"], r["total_rows"], r["passed"])
        for r in qa.expectation_report(
            {"orders": orders, "customer": customer}, spec
        ).collect()
    }
    assert rep["not_null:orders.o_custkey"] == (1, 4, False)
    assert rep["accepted_range:orders.o_totalprice"] == (1, 4, False)
    assert rep["accepted_values:orders.o_orderstatus"] == (1, 4, False)
    assert rep["unique:orders.o_orderkey"] == (1, 4, False)
    # null FK passes referential; custkey 12 has no match
    assert rep["referential:orders.o_custkey->customer.c_custkey"] == (1, 4, False)
    # 3 distinct custkeys vs 2 customers
    assert rep["cross_sum:orders_vs_customers"] == (1, 3, False)
    assert len(rep) == len(spec)


def test_expectation_row_checks_fuse_into_one_scan(spark, sf_dir):
    """N row-expression checks on one table must compile to ONE
    aggregation pass (one scan), not N jobs."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    spec = [
        {"check": "not_null", "table": "lineitem", "column": "l_quantity"},
        {"check": "accepted_range", "table": "lineitem",
         "column": "l_quantity", "lo": 1.0, "hi": 50.0},
        {"check": "accepted_range", "table": "lineitem",
         "column": "l_discount", "lo": 0.0, "hi": 0.1},
        {"check": "accepted_values", "table": "lineitem",
         "column": "l_returnflag", "values": ["A", "N", "R"]},
    ]
    plan = physical_plan(qa.expectation_report(t, spec))
    assert plan.count("Scan parquet") == 1


def test_expectation_compiler_fallback_paths(spark):
    """The round-10 wide-row compiler's non-rebased paths: a
    cross_sum whose expression is NOT count(*)/count(DISTINCT key)
    (raw scalar branch), a second unique on the same table (its own
    scalar branch), and a referential check on a table with NO
    unique base (raw anti + its own count(*) total)."""
    a = spark.createDataFrame(
        [(1, 10, 2.0), (2, 10, 3.0), (3, 11, 5.0), (3, 11, 5.0)],
        ["id", "fk", "v"],
    )
    b = spark.createDataFrame([(10, 5.0)], ["k", "w"])
    spec = [
        {"check": "unique", "table": "a", "columns": ["id"]},
        {"check": "unique", "table": "a", "columns": ["id", "fk"]},
        # sum() sides: neither is rebasable onto the unique base
        {"check": "cross_sum", "name": "sums",
         "table": "a", "expr": "sum(v)",
         "other_table": "b", "other_expr": "sum(w) * 3"},
        # b has no unique/flags: raw anti-join + raw count(*) total
        {"check": "referential", "table": "b", "column": "k",
         "ref_table": "a", "ref_column": "fk"},
        # a HAS a base but fk is its key only in the second unique:
        # count(*) side still rides the base total
        {"check": "cross_sum", "name": "rows_vs_rows",
         "table": "a", "expr": "count(*)",
         "other_table": "b", "other_expr": "count(*)"},
    ]
    rep = {
        r["check_name"]: (r["violations"], r["total_rows"], r["passed"])
        for r in qa.expectation_report({"a": a, "b": b}, spec).collect()
    }
    assert rep["unique:a.id"] == (1, 4, False)       # id 3 duplicated
    assert rep["unique:a.id+fk"] == (1, 4, False)    # (3,11) duplicated
    # sum(v)=15, sum(w)*3=15 -> equal
    assert rep["cross_sum:sums"] == (0, 15, True)
    # b.k=10 matches a.fk -> no orphans, total over b
    assert rep["referential:b.k->a.fk"] == (0, 1, True)
    assert rep["cross_sum:rows_vs_rows"] == (3, 4, False)  # 4 vs 1
    assert len(rep) == len(spec)


def test_expectation_all_green_on_driver_data(spark, sf_dir, duck):
    """The registered fixed suite passes end-to-end on the driver's
    synthetic star schema (violations exist only where the data
    really has them — asserted equal to DuckDB ground truth)."""
    from clinical_data_warehouse_bi_spark.queries.qa_report import q_expectations

    rep = {
        r["check_name"]: r["violations"]
        for r in q_expectations(spark, sf_dir).collect()
    }
    # spot-check two checks against independently-computed truth
    nulls = duck.execute(
        "SELECT count(*) FROM orders WHERE o_custkey IS NULL"
    ).fetchone()[0]
    assert rep["not_null:orders.o_custkey"] == nulls
    orphans = duck.execute(
        """SELECT count(*) FROM lineitem l LEFT JOIN orders o
           ON l.l_orderkey = o.o_orderkey
           WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL"""
    ).fetchone()[0]
    assert rep["referential:lineitem.l_orderkey->orders.o_orderkey"] == orphans


# ------------------------------------------- persisted BM25 index

def test_bm25_index_build_matches_inline(spark, sf_dir, tmp_path):
    """The persisted index must serve EXACTLY the relation the
    shuffle-free inline path computes over the same corpus: the
    served total folds per-term contributions in fixed query order,
    so scores are bit-identical to the inline expression tree (this
    is what lets q_bm25_served carry q_bm25_topk's DuckDB oracle
    verbatim)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    path = str(tmp_path / "bm25_idx")
    retrieval.bm25_index_build(docs, path, n_buckets=8)

    terms = ["hash", "join", "spark"]
    served = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_index_search(spark, path, terms, 100_000).collect()
    }
    inline = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_topk(docs, terms, 100_000).collect()
    }
    assert served == inline


def test_bm25_index_search_prunes_partitions(spark, sf_dir, tmp_path):
    """Scale contract: the postings scan partition-prunes to the
    query terms' tb= buckets and pushes term IN down to parquet."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    path = str(tmp_path / "bm25_idx")
    retrieval.bm25_index_build(docs, path, n_buckets=8)
    plan = physical_plan(retrieval.bm25_index_search(spark, path, ["hash"], 10))
    assert "PartitionFilters" in plan and "tb" in plan
    assert "PushedFilters" in plan
    assert "TakeOrderedAndProject" in plan


def test_expectation_unique_absorbs_row_checks_one_scan(spark, sf_dir):
    """A table with BOTH a unique check and row-expression checks is
    scanned once: the row checks ride the unique aggregation's
    first level as per-key partial sums."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    spec = [
        {"check": "not_null", "table": "lineitem", "column": "l_quantity"},
        {"check": "accepted_range", "table": "lineitem",
         "column": "l_quantity", "lo": 1.0, "hi": 50.0},
        {"check": "unique", "table": "lineitem",
         "columns": ["l_orderkey", "l_linenumber"]},
    ]
    rep = qa.expectation_report(t, spec)
    assert physical_plan(rep).count("Scan parquet") == 1
    got = {r["check_name"]: r["violations"] for r in rep.collect()}
    assert len(got) == 3


# ------------------------------------------------- drift report

# ------------------------------------------------- corpus card

# ------------------------------------------------- hybrid fusion

def test_rrf_fuse_hand_computed(spark):
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(11, 1), (13, 2), (10, 3)], ["doc_id", "rank"])
    got = {
        r["doc_id"]: r["rrf_score"]
        for r in retrieval.rrf_fuse([a, b], k=10).collect()
    }
    import pytest as _pt

    assert got[10] == _pt.approx(1 / 61 + 1 / 63, abs=1e-8)
    assert got[11] == _pt.approx(1 / 62 + 1 / 61, abs=1e-8)
    assert got[12] == _pt.approx(1 / 63, abs=1e-8)
    assert got[13] == _pt.approx(1 / 62, abs=1e-8)
    # doc in both lists outranks single-list docs
    order = [
        r["doc_id"]
        for r in retrieval.rrf_fuse([a, b], k=10).orderBy(
            F.col("rrf_score").desc(), "doc_id"
        ).collect()
    ]
    assert set(order[:2]) == {10, 11}
    with _pt.raises(ValueError):
        retrieval.rrf_fuse([], 5)


def test_hybrid_topk_combines_both_signals(spark, sf_dir):
    """The fused list contains k rows drawn from both legs, and a
    doc that tops BOTH legs tops the fusion."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    qvec = [float(r) for r in emb.where("vec_id = 7").first()["embedding"]]
    fused = retrieval.hybrid_topk(
        docs, emb, ["hash", "join"], qvec, k=10, pool=30
    ).collect()
    assert len(fused) == 10
    ids = [r["doc_id"] for r in fused]
    bm_ids = {
        r["doc_id"] for r in retrieval.bm25_topk(docs, ["hash", "join"], 30).collect()
    }
    # vec_id 7 is its own nearest neighbor: rank 1 on the dense leg
    assert 7 in ids
    # at least one fused doc came from the lexical leg
    assert any(i in bm_ids for i in ids)


def test_bm25_served_repairs_corrupt_cache_dir(spark, monkeypatch):
    """q_bm25_served self-heals a cache directory that exists but
    lost BM25_INDEX_META: the rebuild's publish rename must REPLACE
    the broken directory, never discard the build as a lost race and
    hand the search a meta-less index (the q_ann_ivf_pq_served
    repair contract, applied to the lexical index)."""
    import os
    import shutil

    from clinical_data_warehouse_bi_spark import io
    from clinical_data_warehouse_bi_spark.queries.retrieval_ops import (
        q_bm25_served,
    )
    from clinical_data_warehouse_bi_spark.retrieval import BM25_INDEX_META

    served = []
    real = io.cached_index

    def spy(*a, **kw):
        served.append(real(*a, **kw))
        return served[-1]

    monkeypatch.setattr(io, "cached_index", spy)
    sf = "/root/testdata/sf0.001"
    n0 = q_bm25_served(spark, sf).count()  # builds + serves
    path = served[-1]
    assert os.path.exists(os.path.join(path, BM25_INDEX_META))

    os.remove(os.path.join(path, BM25_INDEX_META))
    n1 = q_bm25_served(spark, sf).count()
    assert os.path.exists(os.path.join(path, BM25_INDEX_META))
    assert n1 == n0 > 0

    shutil.rmtree(path)
    assert q_bm25_served(spark, sf).count() == n0
