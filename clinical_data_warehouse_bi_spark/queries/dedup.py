"""Deduplication queries over the `documents` table (north-star
extensions; BASELINE.json): exact hash dedup, MinHash+LSH,
n-gram Jaccard, SimHash. All hashes are md5/arithmetic-portable so
every query here is DuckDB-oracle-checked (not rows-only)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark import io
from clinical_data_warehouse_bi_spark import text as T
from clinical_data_warehouse_bi_spark.io import fan_out, load_tables
from clinical_data_warehouse_bi_spark.registry import register

# shared SQL fragments for the DuckDB oracles ------------------------------

_SQL_SHINGLES = f"""
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM (SELECT doc_id, {T.SQL_TOKENS} AS w FROM documents)
"""
_SQL_MINHASH = f"""
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
  FROM ({_SQL_SHINGLES}) s,
       (SELECT unnest(generate_series(0, 15)) AS seed) seeds
  GROUP BY doc_id, seed
"""
_SQL_BAND_SIGS = f"""
  SELECT doc_id, CAST(floor(seed / 4.0) AS INT) AS band_id,
         md5(string_agg(minhash, '|' ORDER BY seed)) AS band_sig
  FROM ({_SQL_MINHASH})
  GROUP BY doc_id, CAST(floor(seed / 4.0) AS INT)
"""
_SQL_LSH_PAIRS = f"""
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ({_SQL_BAND_SIGS}) a
  JOIN ({_SQL_BAND_SIGS}) b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
"""


#: q_minhash_lsh_pairs' DuckDB oracle, preserved after its round-9
#: registry retirement (slot went to q_grouped_percentiles) — the
#: cross-engine value check survives in tests/test_retired_parity.py.
SQL_MINHASH_LSH_PAIRS = _SQL_LSH_PAIRS


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs: band the 16-hash signature into
    4 bands x 4 rows, bucket-join on (band, band-signature md5),
    emit distinct doc_a < doc_b. The band join is the scale path: no
    all-pairs comparison ever happens; work is proportional to true
    collision clusters (Broder's shingling/LSH construction).

    The signature matrix itself (16 hash functions h_i(sh) =
    md5(i || ':' || sh), signature = min per doc — lexicographic min
    over md5 hex is a valid uniform MinHash family and
    engine-portable) is this query's first stage; the former
    standalone q_minhash_signatures entry was retired as subsumed
    (registry cap consolidation).

    Round-9 registry retirement (cap is 50; slot went to
    q_grouped_percentiles): the registered q_lsh_near_dup is a strict
    SUPERSET of this query — its oracle's pairs CTE is _SQL_LSH_PAIRS
    verbatim and its Spark side runs the identical
    minhash_bands -> band_join chain before the exact-Jaccard verify
    stage. The candidates-only form keeps its own full oracle
    comparison in tests/test_retired_parity.py against
    SQL_MINHASH_LSH_PAIRS."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return T.band_join(T.minhash_bands(T.shingled(docs)))


#: q_ngram_jaccard's DuckDB oracle, preserved after its round-7
#: registry retirement (slot went to q_contamination) — the
#: cross-engine value check survives in tests/test_retired_parity.py.
SQL_NGRAM_JACCARD = f"""
    WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_SQL_SHINGLES})
                WHERE doc_id < 200),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_n
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b, i.inter_n,
           sa.n + sb.n - i.inter_n AS union_n,
           CAST(i.inter_n AS DOUBLE) / CAST(sa.n + sb.n - i.inter_n AS DOUBLE)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for every pair sharing at least
    one shingle (bounded to doc_id < 200 — the exact-pairwise form is
    the verification tool, not the scale path; q_minhash_lsh_pairs is
    the scale path). Long/long division is IEEE-identical across
    engines, so `jaccard` is hash-compared exactly.

    Round-7 registry retirement (cap is 50; slot went to
    q_contamination): q_lsh_near_dup's registered oracle hash-checks
    the identical shingle relation, sizes CTE, and Jaccard division on
    its candidate pairs — this query is the bounded all-pairs
    ground-truth twin of that verify stage. The all-pairs form keeps
    its own full oracle comparison in tests/test_retired_parity.py
    against SQL_NGRAM_JACCARD. Kept unregistered as the
    verification-tool API."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = T.shingled(docs.filter(F.col("doc_id") < 200)).distinct()
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = (
        a.join(b, (F.col("sh_a") == F.col("sh_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter_n"))
    )
    return _jaccard(sh, inter)


def _jaccard(sh: DataFrame, inter: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter_n, union_n, jaccard): the exact-Jaccard
    verify over the distinct (doc_id, sh) shingle relation and the
    per-pair shared-shingle counts (doc_a, doc_b, inter_n). The
    division is long / long cast to double, IEEE-identical to the
    oracles' CAST(... AS DOUBLE) division."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter_n")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter_n",
            union.alias("union_n"),
            (F.col("inter_n").cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


@register("q_lsh_near_dup", oracle=f"""
    WITH cand AS ({_SQL_LSH_PAIRS}),
    sh AS (SELECT DISTINCT doc_id, sh FROM ({_SQL_SHINGLES})),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS inter_n
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(i.inter_n AS DOUBLE) / CAST(sa.n + sb.n - i.inter_n AS DOUBLE)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """)
def q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline at scale: LSH candidates (cheap,
    bucketed) -> exact Jaccard verification ONLY on candidates. This
    is the composition a 100 TB dedup job runs; all-pairs Jaccard
    (q_ngram_jaccard) exists only as its ground-truth check."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # the candidate generation and the verification both consume the
    # shingle relation; cache it so the DAG does not re-derive
    # shingles three times — and repeated invocations reuse it via
    # plan matching
    sh = T.shingled(docs).distinct().cache()
    cand = T.band_join(T.minhash_bands(sh))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("b_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter_n"))
    )
    return _jaccard(sh, inter).select("doc_a", "doc_b", "jaccard")


_SQL_SIMHASH = f"""
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM (
      SELECT doc_id, j, sum(c) AS s FROM (
        SELECT t.doc_id, b.j,
               CASE WHEN (
                 (strpos('0123456789abcdef',
                         substr(md5(t.tok), CAST(b.j // 4 AS INT) + 1, 1)) - 1)
                 >> (b.j % 4)) & 1 = 1
               THEN 1 ELSE -1 END AS c
        FROM (SELECT doc_id, unnest({T.SQL_TOKENS}) AS tok FROM documents) t,
             (SELECT unnest(generate_series(0, 31)) AS j) b) contrib
      GROUP BY doc_id, j) bitsum
    GROUP BY doc_id
"""


def _simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """32-bit SimHash fingerprint relation (doc_id, simhash) for
    q_simhash_pairs: each token votes +1/-1 on every bit of its hash;
    bit j of the fingerprint is the vote sign. Token bit j is
    extracted from md5 hex nibble j//4 (portable: strpos-based nibble
    decode, identical in both engines)."""
    # md5 projected ONCE per token; the 32 bit-votes are 32 column
    # expressions aggregated in a single groupBy — no 32x row blowup,
    # no per-bit md5 recompute. fan_out keyed on doc_id so the
    # explode+hash hot loop isn't serialized on a one-row-group scan
    # AND the groupBy(doc_id) aggregates in place with no exchange.
    tok = fan_out(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(T.tokens("text")).alias("tok")
    ).select("doc_id", F.md5("tok").alias("h"))
    votes = [
        F.sum(
            F.expr(
                f"CASE WHEN ((locate(substr(h, {j // 4 + 1}, 1),"
                f" '0123456789abcdef') - 1) >> {j % 4}) & 1 = 1"
                " THEN 1 ELSE -1 END"
            )
        ).alias(f"s{j}")
        for j in range(32)
    ]
    bitsums = tok.groupBy("doc_id").agg(*votes)
    # single parsed expression (32 when-Columns would cost ~100 py4j
    # round-trips of plan-build time)
    fingerprint = F.expr(
        "CAST("
        + " + ".join(f"IF(s{j} > 0, {1 << j}L, 0L)" for j in range(32))
        + " AS BIGINT)"
    )
    return bitsums.select("doc_id", fingerprint.alias("simhash"))


#: Hamming radius for SimHash near-dup pairs. With 4 bands of 8 bits
#: over a 32-bit fingerprint, banding is EXACT for k <= 3 (pigeonhole:
#: 3 differing bits can spoil at most 3 of the 4 bands).
SIMHASH_HAMMING_K = 3
SIMHASH_BANDS = 4


#: q_simhash_pairs' DuckDB oracle, preserved after its round-12
#: registry retirement (slot went to q_tfidf_keywords) — the
#: cross-engine value check survives in tests/test_retired_parity.py.
SQL_SIMHASH_PAIRS = f"""
    WITH fp AS ({_SQL_SIMHASH}),
    bands AS (
      SELECT doc_id, simhash, j.band, (simhash >> (j.band * 8)) & 255 AS sig
      FROM fp, (SELECT unnest(generate_series(0, 3)) AS band) j),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_HAMMING_K}
    """


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pair extraction — the consumer that makes the
    fingerprints a dedup tool (the exact-dup twin is the DISTINCT
    promotion, DWH.sql:111-118; this is its near-dup analogue).

    Round-12 registry retirement (cap is 50; slot went to
    q_tfidf_keywords): the registered q_lsh_near_dup runs the same
    banded-signature candidates-only equi-join construction
    hash-checked every round (band -> bucket-join -> verify — the
    operator SHAPE this entry certified), and q_embed_near_dup keeps
    a second banded form (sign-LSH) under the gate. The SimHash
    fingerprint expression and the exact-Hamming pigeonhole verify
    keep their own full oracle comparison in
    tests/test_retired_parity.py against SQL_SIMHASH_PAIRS (sf0.01 +
    the sf0.1 density sweep), so retirement weakens no evidence.

    Band-of-bits LSH through text.hamming_pairs (the join
    q_image_near_dup runs on 64-bit pHashes): split each 32-bit
    fingerprint into 4 x 8-bit bands, equi-join on (band, band value)
    — candidates only, never all-pairs — then verify Hamming <= {{k}}
    with bit_count(a ^ b). For k <= 3 the banding loses nothing
    (pigeonhole), so this is an EXACT Hamming-radius join expressed
    as bucketed equi-joins. The band relation is cached once by the
    band join; both self-join sides and the verification read the
    materialized form."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return T.hamming_pairs(
        _simhash_fingerprints(docs), "simhash", 32, SIMHASH_BANDS, SIMHASH_HAMMING_K
    )


#: sub-document dedup granularity: non-overlapping windows of this
#: many tokens. Real corpora use paragraph/line boundaries (Dolma,
#: RefinedWeb); the synthetic corpus has no newlines, so fixed token
#: windows are the boundary — the operator shape is identical.
CHUNK_TOKENS = 8


#: q_chunk_dedup's DuckDB oracle, preserved after its round-8
#: registry retirement (witness: q_cdc_chunk_dedup carries the
#: identical slim keep-first window + string_agg-rebuild machinery
#: over a strictly richer boundary construction; the fixed-window
#: form keeps this full comparison live in
#: tests/test_retired_parity.py plus its idempotence property test)
SQL_CHUNK_DEDUP = f"""
    WITH t AS (
      SELECT doc_id, {T.SQL_TOKENS} AS w FROM documents),
    chunks AS (
      SELECT doc_id, i AS pos,
             array_to_string(
               w[(i*{CHUNK_TOKENS}+1):((i+1)*{CHUNK_TOKENS})], ' ') AS chunk
      FROM t, unnest(generate_series(
             0, (len(w) + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS} - 1)) AS u(i)),
    kept AS (
      SELECT doc_id, pos, chunk FROM (
        SELECT doc_id, pos, chunk,
               row_number() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, pos) AS rn
        FROM chunks) r WHERE rn = 1),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(t2.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN tot t2 ON t2.doc_id = d.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    """


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup with document reconstruction — the
    paragraph/line-level dedup every large corpus build runs (Lee et
    al. substring dedup at practical granularity; Dolma/RefinedWeb
    run it on paragraphs): split each document into non-overlapping
    {CHUNK_TOKENS}-token chunks, keep only the globally FIRST
    occurrence of each distinct chunk (order: doc_id, then position),
    and rebuild every document from its surviving chunks. Output per
    document: chunk counts before/after and the reconstructed text —
    a total rewrite decision for the corpus, including docs reduced
    to the empty string.

    Scale shape: document text NEVER shuffles. Stage 1 maps docs to a
    slim (doc_id, pos, h1, h2) relation — chunk content is reduced to
    two independent 64-bit hashes while still in the scan's map stage
    (the contamination-report discipline; 128 bits makes a dedup-key
    collision astronomically unlikely, and the cross-engine hash gate
    would surface one). The keep-first window shuffles only those
    20-byte rows; the kept positions aggregate per doc (second slim
    shuffle) and join back to the re-tokenized documents — broadcast
    at test scale, one doc_id-partitioned join of text at 100 TB.
    Tokenizing twice is deliberate: re-running a map-side split is
    cheaper than shuffling or caching raw text (the q_corpus_clean
    measurement). The window partitions by the hash pair, so skew is
    impossible by construction (a hot chunk is ONE key with many
    rows — bounded by corpus repetition, handled by rn=1 short
    circuit in WindowGroupLimit).

    The DuckDB oracle dedups on the chunk STRINGS themselves and
    rebuilds with string_agg — so the hash-pair shortcut is verified
    value-for-value against the direct form. Core: T.chunk_dedup
    (reusable over any (id, text) frame; idempotence property-tested
    by re-applying it to its own output)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return T.chunk_dedup(
        fan_out(docs.select("doc_id", "text")), chunk_tokens=CHUNK_TOKENS
    )


@register("q_dedup_clusters", oracle=f"""
    WITH RECURSIVE pairs AS ({_SQL_LSH_PAIRS}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r)
    SELECT id AS doc_id,
           min(r) AS cluster_id,
           (min(r) = id) AS is_canonical
    FROM reach GROUP BY id
    """)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assembly — the step after pair detection that
    a training-data dedup actually ships: connected components over
    the MinHash-LSH candidate-pair graph, labeling every document
    with its cluster's minimum doc_id and flagging the one canonical
    representative to keep (the reference's DISTINCT promotion,
    DWH.sql:111-118, is the exact-dup special case of this). Isolated
    documents form singleton clusters, so the output is a total
    keep/drop decision for the corpus: keep is_canonical, drop the
    rest.

    Plan: the banded LSH pair join (never all-pairs) feeds
    graph.connected_components — iterative min-label propagation,
    one shuffle pair per round, lineage truncated per round,
    O(cluster diameter) rounds (shallow for duplicate clusters). The
    DuckDB oracle computes the same fixpoint as a recursive CTE, so
    the hash gate checks the iterative loop end-to-end."""
    from clinical_data_warehouse_bi_spark.graph import connected_components

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = T.band_join(T.minhash_bands(T.shingled(docs)))
    labels = connected_components(
        pairs,
        vertices=docs.select("doc_id"),
        src="doc_a",
        dst="doc_b",
        vertex_col="doc_id",
    )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )


#: q_paragraph_dedup's DuckDB oracle, preserved after its round-9
#: registry retirement (slot went to the round-8 verdict's named
#: candidates; witness: q_cdc_chunk_dedup runs the identical slim
#: keep-first window + rebuild machinery over content-defined
#: boundaries — the delimiter-bounded form here is its special
#: case). The full cross-engine value check stays live in
#: tests/test_retired_parity.py.
SQL_PARAGRAPH_DEDUP = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    units AS (
      SELECT doc_id, i AS pos, w[i+1] AS s
      FROM t, unnest(generate_series(0, len(w) - 1)) AS u(i)
      WHERE trim(w[i+1]) <> ''),
    kept AS (
      SELECT doc_id, pos, s FROM (
        SELECT doc_id, pos, s,
               row_number() OVER (PARTITION BY s
                                  ORDER BY doc_id, pos) AS rn
        FROM units) r WHERE rn = 1),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(s, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_paras FROM units GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(t2.n_paras, 0) AS BIGINT) AS n_paras,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN tot t2 ON t2.doc_id = d.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    """


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-based unit dedup with reconstruction
    (text.paragraph_dedup) — the delimiter-bounded sibling of
    q_chunk_dedup and the form newline corpora actually run
    (Dolma/RefinedWeb drop repeated paragraphs corpus-wide, keeping
    the first occurrence). The synthetic corpus has no newlines (the
    q_chunk_dedup rationale), so the registered boundary is the
    space character — unit = word, the same operator path at its
    finest granularity: split on the delimiter, drop whitespace-only
    units, keep the globally FIRST occurrence (order: doc_id, then
    position), rebuild each doc from survivors joined by the
    delimiter.

    Scale shape (identical to q_chunk_dedup, plan-tested there):
    unit text reduces to two salted 64-bit hashes in the scan's map
    stage; only (doc_id, pos, h1, h2) shuffles through the
    keep-first window; reconstruction joins kept positions back to a
    re-split scan. The DuckDB oracle dedups on the unit STRINGS
    themselves, verifying the hash shortcut value-for-value.
    Idempotent by construction (delimiter-bounded units re-split
    exactly); registered per the round-7 advice to put the round-7
    operator mass under the oracle gate."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return T.paragraph_dedup(
        fan_out(docs.select("doc_id", "text")), delim=" "
    )


#: CDC boundary parameters for the registered query (expected chunk
#: length ~= divisor tokens; window = trailing tokens hashed)
CDC_WINDOW = 3
CDC_DIVISOR = 8

_SQL_CDC_CUT = (
    f"(('0x' || substr(md5(array_to_string("
    f"w[greatest(1, i - {CDC_WINDOW} + 1):i], ' ')), 1, 8))::UBIGINT)"
    f" % {CDC_DIVISOR} = 0"
)


@register("q_cdc_chunk_dedup", oracle=f"""
    WITH t AS (
      SELECT doc_id, {T.SQL_TOKENS} AS w FROM documents),
    cutd AS (
      SELECT doc_id, w,
             list_filter(range(1, len(w)), i -> {_SQL_CDC_CUT}) AS cuts
      FROM t WHERE len(w) > 0),
    chunked AS (
      SELECT doc_id,
             list_transform(
               range(1, len(cuts) + 2),
               j -> array_to_string(
                      w[list_concat([1], list_transform(cuts, c -> c + 1))[j]
                        :list_concat(cuts, [len(w)])[j]], ' ')) AS chunks
      FROM cutd),
    chunks AS (
      SELECT doc_id, i AS pos, chunks[i] AS chunk
      FROM chunked, unnest(generate_series(1, len(chunks))) AS u(i)),
    kept AS (
      SELECT doc_id, pos, chunk FROM (
        SELECT doc_id, pos, chunk,
               row_number() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, pos) AS rn
        FROM chunks) r WHERE rn = 1),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, len(chunks) AS n_chunks FROM chunked)
    SELECT d.doc_id,
           CAST(coalesce(t2.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN tot t2 ON t2.doc_id = d.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    """)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup with CONTENT-DEFINED boundaries — the
    shift-robust successor of the retired q_chunk_dedup (fixed
    windows miss every shared chunk after an insertion; CDC
    boundaries resynchronize, the property
    tests/test_properties.py::test_cdc_chunk_dedup_survives_prefix_insertion
    plants and proves). Boundary hash is the PORTABLE md5-prefix int
    (the oracle recomputes identical cuts with DuckDB list lambdas);
    chunk identity still travels as two salted xxhash64s, which the
    oracle verifies by deduping the chunk strings directly.

    Scale shape inherited from the fixed-window form and plan-locked
    in test_cdc_chunk_dedup_text_never_shuffles: boundaries, chunks
    and hash pairs are per-row array expressions; only the slim
    (id, idx, h1, h2) relation reaches the keep-first window; the
    rebuild joins kept indexes back to a re-chunked scan."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return T.cdc_chunk_dedup(
        fan_out(docs.select("doc_id", "text")),
        hash_window=CDC_WINDOW,
        divisor=CDC_DIVISOR,
    )


#: registered repeated-span parameters: 5-gram windows, keep only the
#: globally first occurrence of a repeated window
SPAN_N = 5
SPAN_MAX_OCC = 1


SQL_REPEATED_SPANS = f"""
    WITH t AS (
      SELECT doc_id, {T.SQL_TOKENS} AS w FROM documents),
    grams AS (
      SELECT doc_id, s, array_to_string(w[s:s+{SPAN_N - 1}], ' ') AS g
      FROM t, unnest(generate_series(1, len(w) - {SPAN_N - 1})) AS u(s)
      WHERE len(w) >= {SPAN_N}),
    marked AS (
      SELECT doc_id, s,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn
      FROM grams),
    cov AS (
      SELECT DISTINCT doc_id, p
      FROM marked, unnest(generate_series(s, s + {SPAN_N - 1})) AS v(p)
      WHERE rn > {SPAN_MAX_OCC}),
    idx AS (
      SELECT doc_id, i, w[i] AS tok
      FROM t, unnest(generate_series(1, len(w))) AS u(i)),
    rebuilt AS (
      SELECT i.doc_id, string_agg(i.tok, ' ' ORDER BY i.i) AS clean_text
      FROM idx i
      LEFT JOIN cov c ON c.doc_id = i.doc_id AND c.p = i.i
      WHERE c.p IS NULL
      GROUP BY i.doc_id),
    nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(nrem.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(r.clean_text, '') AS clean_text
    FROM t
    LEFT JOIN nrem ON nrem.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
    """


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated n-gram SPAN removal
    (text.remove_repeated_spans, the arXiv:2107.06499 shape) — the
    finest cross-document rung of the dedup granularity ladder: any
    window of {SPAN_N} aligned tokens that repeats corpus-wide keeps
    only its globally first occurrence; every token covered by a
    later occurrence is dropped and each document is rebuilt from
    its survivors. The operator needs no portable-hash surgery
    because the DuckDB oracle recomputes the removal on the n-gram
    STRINGS themselves (the q_paragraph_dedup construction),
    verifying the salted xxhash64 shortcut value-for-value.

    Round-11 registry retirement (cap is 50; the slot went to
    q_attribution per the round-10 verdict item 6): witnesses are
    q_cdc_chunk_dedup — the registered slim keep-first window +
    rebuild machinery over content-defined boundaries (the same
    no-text-in-exchange construction this query instantiates at
    n-gram granularity; q_chunk_dedup and q_paragraph_dedup already
    retired onto it) — and q_top_ngrams, which keeps the salted
    hash-pair-only exchange registered. The full oracle comparison
    stays live in tests/test_retired_parity.py against
    SQL_REPEATED_SPANS, the plan locks in
    tests/test_repeated_spans.py, and the query stays in the bench +
    scale-adjudication set.

    Scale shape (plan-locked in tests/test_repeated_spans.py): only
    the slim (id, pos, h1, h2) relation reaches the keep-first
    window; the rebuild joins per-doc removal arrays back to a
    re-tokenized scan — broadcast here, one doc-id-keyed exchange at
    corpus scale."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return T.remove_repeated_spans(
        fan_out(docs.select("doc_id", "text")),
        ngram=SPAN_N,
        max_occurrences=SPAN_MAX_OCC,
    )


# --------------------------------------------------------------------------
# Exact substring dedup (suffix-array family) — round-13 verdict item 8
# --------------------------------------------------------------------------

#: window length for the registered exact-substring query: long
#: enough that matches are real shared passages (the fixture's
#: cross-document boilerplate), short enough that the sf0.01 corpus
#: carries a meaningful span set (45 docs affected)
SUBSTRING_MIN_TOKENS = 12


@register("q_substring_dedup", oracle=f"""
    WITH t AS (SELECT doc_id, {T.SQL_TOKENS} AS toks FROM documents),
    w AS (SELECT doc_id, i,
                 array_to_string(toks[i:i+{SUBSTRING_MIN_TOKENS - 1}],
                                 chr(1)) AS win
          FROM t, LATERAL (SELECT unnest(generate_series(
                 1, len(toks) - {SUBSTRING_MIN_TOKENS} + 1)) AS i) g
          WHERE len(toks) >= {SUBSTRING_MIN_TOKENS}),
    d AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
    m AS (SELECT w.doc_id, w.i FROM w JOIN d USING (win)),
    o AS (SELECT doc_id, i,
                 max(i + {SUBSTRING_MIN_TOKENS} - 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM m),
    b AS (SELECT doc_id, i,
                 CASE WHEN prev_end IS NULL OR i > prev_end
                      THEN 1 ELSE 0 END AS brk
          FROM o),
    g AS (SELECT doc_id, i,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS grp
          FROM b)
    SELECT doc_id, min(i) AS span_start,
           max(i) + {SUBSTRING_MIN_TOKENS} - 1 AS span_end
    FROM g GROUP BY doc_id, grp
    """)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022 ExactSubstr —
    suffix.py): every maximal token span covered by a
    >={SUBSTRING_MIN_TOKENS}-token window occurring >= 2 times in the
    corpus, as (doc_id, span_start, span_end) 1-based inclusive token
    intervals — the TOKEN-grained member of the dedup suite (exact
    hash / MinHash / SimHash / CDC are document- or chunk-grained;
    this catches partial overlap at arbitrary alignment, the
    repeated-boilerplate shape LLM corpora bleed quality on).

    The registered form runs winnow_w=1 — EXACT, hash-checked
    against the brute-force window-count definition in DuckDB. The
    100 TB configuration is winnow_w=8 (round-16 verdict item 5),
    which is the DEFAULT in the composed release pipeline
    (corpus.build_corpus_release winnows with w=8): the w-fold
    smaller window-digest exchange measured 2.33x vs DuckDB at the
    1024x planted corpus and improves with volume, where this exact
    form plateaus ~3.3x (BASELINE.md). Guarantee trade: winnowing
    certifies only duplicated spans of >= L + w - 1 tokens
    (Schleimer et al.'s bound; intra-partition matches stay exact at
    >= L via the suffix-array tier) — shorter duplicated spans MAY
    survive. Property-tested in tests/test_suffix.py; the w=1 gate
    entry here keeps the full brute-force oracle.

    Scale shape: window digests are computed INSIDE the map-side
    transform (md5 in the lambda, exploded after hashing), so the
    duplicate-detection exchange carries (h, doc_id, pos) only and
    the span-merge exchange carries (doc_id, pos) — token content
    never enters a keyed exchange (plan-locked).

    fan_out (round-17): the tokenize + per-window digest explode is
    the heavy map-side stage and previously pipelined onto the
    single-task local scan; round-robin fan_out distributes it
    (exact no-op on a well-split scan). 1.196 -> 1.048 s best /
    1.387 -> 1.145 median alternating A/B at sf0.1, identical
    span checksums. (The xxhash64-pair digest variant measured
    equal-within-noise on top of the fan_out — 1.004 best / 1.226
    median — and was rejected: the r14 256x record shows the
    window enumeration, not the digest, is the floor, so the md5
    digest and index format stay.)"""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from clinical_data_warehouse_bi_spark.suffix import duplicate_spans

    return duplicate_spans(
        fan_out(docs.select("doc_id", "text")),
        min_tokens=SUBSTRING_MIN_TOKENS,
        winnow_w=1,
    )


@register("q_decontaminate_exact", oracle=f"""
    WITH t AS (SELECT doc_id, {T.SQL_TOKENS} AS toks FROM documents),
    w AS (SELECT doc_id, i,
                 array_to_string(toks[i:i+{SUBSTRING_MIN_TOKENS - 1}],
                                 chr(1)) AS win
          FROM t, LATERAL (SELECT unnest(generate_series(
                 1, len(toks) - {SUBSTRING_MIN_TOKENS} + 1)) AS i) g
          WHERE len(toks) >= {SUBSTRING_MIN_TOKENS}),
    ref AS (SELECT DISTINCT win FROM w WHERE doc_id % 4 = 0),
    m AS (SELECT w.doc_id, w.i FROM w JOIN ref USING (win)
          WHERE w.doc_id % 4 <> 0),
    o AS (SELECT doc_id, i,
                 max(i + {SUBSTRING_MIN_TOKENS} - 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM m),
    b AS (SELECT doc_id, i,
                 CASE WHEN prev_end IS NULL OR i > prev_end
                      THEN 1 ELSE 0 END AS brk
          FROM o),
    g AS (SELECT doc_id, i,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS grp
          FROM b)
    SELECT doc_id, min(i) AS span_start,
           max(i) + {SUBSTRING_MIN_TOKENS} - 1 AS span_end
    FROM g GROUP BY doc_id, grp
    """)
def q_decontaminate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring DECONTAMINATION against a PERSISTED reference
    index (suffix.build_suffix_index + probe_suffix_index): spans of
    probe documents whose {SUBSTRING_MIN_TOKENS}-token windows appear
    anywhere in the reference corpus — the check a training pipeline
    runs against held-out benchmarks before data ships (Lee et al.
    2022's decontamination application; the exact-substring upgrade
    of q_contamination's n-gram overlap). The demo split is
    deterministic (doc_id % 4 == 0 is the reference, the rest are
    probed) so both engines construct identical corpora and the full
    span set is hash-checked.

    Serving shape (the 100 TB story): the reference's DISTINCT window
    digests persist ONCE, parquet-partitioned by digest bucket with a
    meta-last commit marker (built here through io.cached_index);
    each probe batch computes its own digests map-side, prunes the
    index scan to its bucket set, and semi-joins on (bucket, digest)
    — batch-proportional work, no reference rescan, token content
    never in a keyed exchange."""
    from clinical_data_warehouse_bi_spark import suffix

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    path = io.cached_index(
        sf_dir,
        "documents",
        f"suffix_v{suffix.SUFFIX_INDEX_FORMAT_VERSION}"
        f"_L{SUBSTRING_MIN_TOKENS}_b32_ref4",
        suffix.SUFFIX_INDEX_META,
        lambda d: suffix.build_suffix_index(
            docs.where(F.col("doc_id") % 4 == 0),
            d,
            min_tokens=SUBSTRING_MIN_TOKENS,
            n_buckets=32,
        ),
    )
    return suffix.probe_suffix_index(
        spark, docs.where(F.col("doc_id") % 4 != 0), path
    )
