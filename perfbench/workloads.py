"""The benchmark workloads.

Each workload has a set-up (inputs, indexes) and a pass: a list of
operations ``(name, fn, check)``. Each fn is timed on its own; each
check gets fn's output after the pass, outside the timed interval.
With tracing on, ``traced()`` wraps the library's public stage
functions in spans; a lazy stage is forced at its boundary with a noop
sink, persisted first where a later stage reads it again.
"""

from __future__ import annotations

import os
import shutil
from contextlib import ExitStack

import numpy as np
import pyarrow.parquet as pq

import tables

STAR_PATIENTS = 600
CORPUS_DOCS = 1200
QUERY_ORDERS = 1500  # sf0.001 table sizes
QUERY_DOCS = 500
# the registered queries of the mix; q_ann_ivf_pq_served and
# q_bm25_served are left out because building their two indexes in
# every run's set-up does not fit the run budget (perfbench/README.md)
QUERIES = [
    "q_daily_census", "q_top_ngrams", "q_percentiles", "q_rollup",
    "q_asof_next_order", "q_ann_hnsw", "q_hybrid_topk", "q_tfidf_keywords",
    "q_dedup_clusters",
]

# per-layer families and layers reported by the traced run, by the part
# of a workload that runs them
FAMILIES = {
    "star_etl": ["self_s", "cpu_s", "wait_s", "tasks", "shuffle_mb", "input_rows"],
    "corpus_release": ["self_s", "cpu_s", "py_cpu_s", "wait_s", "shuffle_mb", "spill_mb"],
    "query_mix": ["self_s", "cpu_s", "py_cpu_s", "shuffle_mb"],
}
LAYERS = {
    "star_etl": [
        "star.build_staging", "star.build_dwh", "qa.rowcount_reconciliation",
        "qa.fact_vs_agg", "qa.orphan_checks", "qa.duplicate_checks",
    ],
    "corpus_release": [
        "text.remove_boilerplate", "corpus.quality_dedup",
        "suffix.probe_suffix_index", "suffix.strip_duplicate_spans",
        "release.write", "io.manifest",
    ],
    "query_mix": [f"queries.{q}" for q in QUERIES],
}
SETUP_LAYERS = ["fixtures.make_sources", "suffix.build_suffix_index"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def patch_all(pairs) -> ExitStack:
    """Replace each ``module.attr`` by ``make(original)`` until the
    returned stack closes."""
    stack = ExitStack()
    for module, attr, make in pairs:
        orig = getattr(module, attr)
        setattr(module, attr, make(orig))
        stack.callback(setattr, module, attr, orig)
    return stack


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.kept = []  # relations persisted by the traced wrappers

    def mark(self) -> None:
        """Remember what set-up persisted; passes release the rest."""
        from clinical_data_warehouse_bi_spark.io import snapshot_persistent_rdds

        self.rdd_base = snapshot_persistent_rdds(self.spark)

    def after_pass(self) -> None:
        from clinical_data_warehouse_bi_spark.io import release_new_persistent_rdds

        while self.kept:
            self.kept.pop().unpersist()
        release_new_persistent_rdds(self.spark, self.rdd_base)

    def traced(self):
        return ExitStack()


# ------------------------------------------------------------------ star

class StarEtl(Workload):
    """fixtures -> star.run_pipeline -> noop sinks -> qa.run_all collected."""

    name = "star_etl"

    def setup(self) -> None:
        from clinical_data_warehouse_bi_spark.fixtures import make_sources

        with self.tr.span("fixtures.make_sources"):
            self.src = make_sources(self.spark, n_patients=STAR_PATIENTS, seed=self.seed)
            for df in self.src.values():
                df.cache().count()

    def ops(self):
        from clinical_data_warehouse_bi_spark import qa, star

        st = {}

        def pipeline():
            st["out"] = out = star.run_pipeline(self.src)
            with self.tr.span("star.build_dwh"):
                noop(out["dwh"]["fact_disorder_events"])
                noop(out["dwh"]["agg_disorders_per_admission"])

        def qa_all():
            res = qa.run_all(st["out"]["stage"], st["out"]["dwh"])
            return {k: [r.asDict() for r in v.collect()] for k, v in res.items()}

        def check_qa(res) -> bool:
            # QA.sql's USING join never matches a NULL key, so the orphan
            # admissions probe counts exactly the NULL-FK facts that the
            # DWH cleanup keeps on purpose
            fact = st["out"]["dwh"]["fact_disorder_events"]
            null_fk = fact.filter("admission_id IS NULL").count()
            orphans = {r["issue"]: r["num_records"] for r in res["orphans"]}
            dims_ok = all(
                r["diff_rows"] == 0 if r["table_name"].startswith("dim_") else r["diff_rows"] >= 0
                for r in res["rowcounts"]
            )
            return (
                dims_ok
                and all(r["num_dupes"] == 0 for r in res["duplicates"])
                and res["fact_vs_agg"][0]["diff_events"] == 0
                and orphans.pop("Orphan admissions") == null_fk
                and all(v == 0 for v in orphans.values())
            )

        return [("pipeline", pipeline, None), ("qa", qa_all, check_qa)]

    def traced(self):
        from clinical_data_warehouse_bi_spark import qa, star

        tr = self.tr

        def staging(orig):
            def wrapper(src, *a, **k):
                with tr.span("star.build_staging"):
                    stage = orig(src, *a, **k)
                    noop(stage["fact_disorder_events"])
                return stage
            return wrapper

        def dwh(orig):
            def wrapper(*a, **k):
                with tr.span("star.build_dwh"):
                    return orig(*a, **k)
            return wrapper

        def check(name):
            def make(orig):
                def wrapper(*a, **k):
                    with tr.span(f"qa.{name}"):
                        df = orig(*a, **k)
                        rows = df.collect()
                    return df.sparkSession.createDataFrame(rows, df.schema)
                return wrapper
            return make

        pairs = [(star, "build_staging", staging), (star, "build_dwh", dwh)]
        pairs += [
            (qa, n, check(n))
            for n in ("rowcount_reconciliation", "fact_vs_agg", "orphan_checks", "duplicate_checks")
        ]
        return patch_all(pairs)


# ---------------------------------------------------------------- corpus

class CorpusRelease(Workload):
    """documents -> corpus.build_corpus_release (decontamination and
    substring dedup on) -> sharded parquet -> manifest write + verify."""

    name = "corpus_release"

    def setup(self) -> None:
        from clinical_data_warehouse_bi_spark.io import read_table
        from clinical_data_warehouse_bi_spark.suffix import build_suffix_index

        data = os.path.join(self.work, "corpus")
        os.makedirs(data, exist_ok=True)
        docs = tables.documents(np.random.default_rng(self.seed), CORPUS_DOCS, boilerplate=True)
        pq.write_table(docs, os.path.join(data, "documents.parquet"))
        docs = read_table(self.spark, data, "documents").select("doc_id", "source", "text")
        held_out = f"doc_id % 50 = {self.seed % 50}"
        self.docs = docs.filter(f"NOT ({held_out})")
        self.index = os.path.join(self.work, "suffix_index")
        with self.tr.span("suffix.build_suffix_index"):
            build_suffix_index(docs.filter(held_out), self.index, min_tokens=12, n_buckets=64)
        self.out_dir = os.path.join(self.work, "release")

    def ops(self):
        from clinical_data_warehouse_bi_spark.corpus import build_corpus_release
        from clinical_data_warehouse_bi_spark.io import (
            verify_dataset_manifest,
            write_dataset_manifest,
        )

        st = {}

        def build():
            st["r"] = build_corpus_release(
                self.spark, self.docs, decontaminate_index=self.index, substring_dedup=True
            )
            return st["r"]["n_release"]

        def write():
            with self.tr.span("release.write"):
                st["r"]["chunks"].repartition(8).write.parquet(self.out_dir, mode="overwrite")

        def manifest():
            with self.tr.span("io.manifest"):
                man = write_dataset_manifest(self.spark, self.out_dir, extra={"alpha": 0.7})
                return man["total_rows"], verify_dataset_manifest(self.spark, self.out_dir)["ok"]

        def check_release(m) -> bool:
            """The manifest verifies and counts the written chunks, and
            every chunk belongs to a released document."""
            total_rows, ok = m
            chunk_docs = pq.read_table(self.out_dir, columns=["doc_id"])["doc_id"].to_pylist()
            released = {r[0] for r in st["r"]["release"].select("doc_id").collect()}
            return ok and total_rows == len(chunk_docs) > 0 and set(chunk_docs) <= released

        return [
            ("build", build, lambda n: 0 < n < CORPUS_DOCS),
            ("write", write, None),
            ("manifest", manifest, check_release),
        ]

    def after_pass(self) -> None:
        super().after_pass()
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def traced(self):
        from clinical_data_warehouse_bi_spark import io, suffix, text

        tr = self.tr

        def kept(df):
            self.kept.append(df.persist())
            noop(df)
            return df

        def boilerplate(orig):
            def wrapper(*a, **k):
                with tr.span("text.remove_boilerplate"):
                    return kept(orig(*a, **k))
            return wrapper

        def probe(orig):
            def wrapper(spark, new_docs, *a, **k):
                with tr.span("corpus.quality_dedup"):
                    kept(new_docs)
                with tr.span("suffix.probe_suffix_index"):
                    return kept(orig(spark, new_docs, *a, **k))
            return wrapper

        def strip(orig):
            def wrapper(docs, *a, **k):
                # the input is the lazily checkpointed anti-join against
                # the probe's hits: decontamination work
                with tr.span("suffix.probe_suffix_index"):
                    noop(docs)
                with tr.span("suffix.strip_duplicate_spans"):
                    return kept(orig(docs, *a, **k))
            return wrapper

        def mix(orig):
            def wrapper(*a, **k):
                with tr.span("release.write"):
                    return orig(*a, **k)
            return wrapper

        return patch_all([
            (text, "remove_boilerplate", boilerplate),
            (suffix, "probe_suffix_index", probe),
            (suffix, "strip_duplicate_spans", strip),
            (io, "temperature_mix_keyed", mix),
        ])


# ------------------------------------------------------------- query mix

class QueryMix(Workload):
    """Registered queries over seeded sf0.001-sized tables, in a
    seed-shuffled order, each collected to pandas. A query with a
    DuckDB oracle must match it; q_ann_hnsw, which has none, must
    return its 40 neighbour rows, the same on a second run."""

    name = "query_mix"

    def setup(self) -> None:
        from clinical_data_warehouse_bi_spark.registry import registered_queries

        self.data = os.path.join(self.work, "tables")
        tables.write_query_tables(self.seed, self.data, QUERY_ORDERS, QUERY_DOCS)
        self.queries = registered_queries()
        # the first call builds the persisted graph index the query serves from
        self.queries["q_ann_hnsw"](self.spark, self.data)
        self.order = list(QUERIES)
        np.random.default_rng(self.seed).shuffle(self.order)

    def ops(self):
        def run(q):
            def fn():
                with self.tr.span(f"queries.{q}"):
                    return self.queries[q](self.spark, self.data).toPandas()
            return fn

        return [(q, run(q), lambda out, q=q: self.check(q, out)) for q in self.order]

    def check(self, q, out) -> bool:
        import duckdb

        from clinical_data_warehouse_bi_spark.registry import registered_oracles

        oracle = registered_oracles().get(q)
        if oracle is None:
            again = self.queries[q](self.spark, self.data).toPandas()
            return len(out) == 40 and normalize(out) == normalize(again)
        con = duckdb.connect()
        try:
            for t in ("orders", "lineitem", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
            return normalize(out) == normalize(con.execute(oracle).df())
        finally:
            con.close()


# ------------------------------------------------------- corpus + queries

class CorpusQuery(Workload):
    """corpus_release, then query_mix, in one process: the text and
    search side of the engine. Neither part runs star or QA code."""

    name = "corpus_query"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [CorpusRelease(*args), QueryMix(*args)]

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def mark(self) -> None:
        for p in self.parts:
            p.mark()

    def ops(self):
        return [op for p in self.parts for op in p.ops()]

    def after_pass(self) -> None:
        for p in self.parts:
            p.after_pass()

    def traced(self):
        stack = ExitStack()
        for p in self.parts:
            stack.enter_context(p.traced())
        return stack


def normalize(df):
    """scripts/check_parity.normalize: sorted columns, stringified
    values, order-insensitive rows."""
    from check_parity import normalize as check_parity_normalize

    return check_parity_normalize(df)


WORKLOADS = {w.name: w for w in (StarEtl, CorpusQuery)}
