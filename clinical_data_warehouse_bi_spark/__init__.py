"""PySpark-native analytics engine with the capabilities of
Leemc7/Clinical-Data-Warehouse-BI (a pure-SQL MariaDB dimensional
warehouse: staging ETL -> star schema -> QA reconciliation), rebuilt
Spark-first and extended with large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal
plumbing).

Every top-level def is reached from the entry points
(``__spark_entry__.py``, ``bench.py``, ``queries/``);
tests/test_reachability.py keeps it that way.

Layout:
  session.py     SparkSession factory (AQE, UTC, sane shuffle partitions)
  io.py          scale-factor table reads, footer stats, fan_out, the
                 build-once index cache (cached_index), temperature
                 mixing, dataset manifests
  cleanse.py     cleansing expressions (sentinel timestamps, keyword
                 filters, regex-guarded numeric parse, calendar attrs)
  keys.py        dense distributed surrogate keys (zip_index_key)
  joins.py       interval (as-of) / orphan-cleanup / size-gated
                 broadcast / range / fuzzy join operators
  fixtures.py    seeded MIMIC-shaped sources for the star pipeline
  star.py        the 3-stage clinical pipeline (staging -> dwh -> agg)
  qa.py          the reference's QA suite plus expectation, pivot,
                 Benford, outlier, freshness and snapshot reports
  kpi.py         readmission and daily-census KPIs
  percentiles.py distributed exact percentiles
  timeseries.py  resample/fill, rolling aggregates, attribution
  funnel.py      ordered-sequence funnels
  text.py        tokenize / shingle / MinHash / LSH, chunk and
                 boilerplate dedup, sampling, top n-grams, TF-IDF
  suffix.py      exact-substring dedup and the persisted digest index
  corpus.py      the corpus release pipeline (build_corpus_release)
  scrub.py       repetition metrics, contamination, DP release
  bpe.py         BPE encoding under a merge table
  lm.py          n-gram language-model perplexity
  graph.py       connected components for dedup clusters
  similarity.py  Arrow-batched numpy top-k, sign-LSH, IVF and IVF-PQ
  hnsw.py        sharded HNSW-class graph ANN
  retrieval.py   BM25 top-k and its persisted index
  multimodal.py  binary-column (image/audio) plumbing via mapInPandas,
                 pHash image near-dup
  registry.py    query registry and gate-slot rotation
  queries/       registered (query, oracle-SQL) pairs
"""

__version__ = "0.1.0"
