"""Text-analysis / dedup building blocks for the training-data
pipeline extensions (BASELINE.json north star): normalization,
tokenization, word-shingling, MinHash signatures, SimHash.

Everything is built from JVM-side built-in functions (no Python UDFs)
so the hot path stays inside whole-stage codegen, and every hash is
md5- or arithmetic-based so the DuckDB oracle can reproduce it
bit-for-bit (Spark's hash()/xxhash64() and DuckDB's hash() are
different algorithms — never use them in compared output).

Scale notes: each document is tokenized once, and the token array is
bound to a column before any lambda reads it (Spark shares no
subexpression inside a higher-order function, so a tokenizer inside
the shingle lambda re-ran once per element: O(tokens^2) regex work per
doc). Shingle explode multiplies rows by ~tokens-per-doc; the
minhash groupBy keys on doc_id (k min columns in one aggregation),
which is uniformly distributed by construction — no skew. The band-bucket self-join (band_join) is
the standard LSH candidate generation, shared by MinHash, SimHash,
pHash and sign-LSH: join key (band, sig) keeps the pair blow-up
bounded by true near-duplicate clusters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from clinical_data_warehouse_bi_spark.io import local_frame

#: default MinHash configuration: 16 hashes in 4 bands of 4 rows
MINHASH_SEEDS = 16
MINHASH_BANDS = 4

#: small stopword lexicon for language ID / quality scoring (shared
#: verbatim with the DuckDB oracles — keep sorted, lowercase)
LANG_LEXICON: list[tuple[str, str]] = [
    ("en", "the"), ("en", "and"), ("en", "of"), ("en", "to"), ("en", "in"),
    ("en", "is"), ("en", "a"),
    ("es", "el"), ("es", "la"), ("es", "de"), ("es", "que"), ("es", "y"),
    ("es", "los"), ("es", "es"),
    ("de", "der"), ("de", "die"), ("de", "das"), ("de", "und"), ("de", "ist"),
    ("de", "von"), ("de", "mit"),
    ("fr", "le"), ("fr", "les"), ("fr", "et"), ("fr", "des"), ("fr", "un"),
    ("fr", "une"), ("fr", "est"),
]

EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "a", "for", "on", "with"]


def normalized_text(col: Column | str) -> Column:
    """lowercase, collapse every non-alphanumeric run to one space."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def tokens(col: str) -> Column:
    """array of lowercase alphanumeric tokens of the column ``col``."""
    return F.expr(f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)")


#: tokens("text") as the DuckDB oracles write it
SQL_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def word_shingles(tok_col: str, n: int = 3) -> Column:
    """n-word shingles of the token-array column ``tok_col``: positions
    1..len-n+1 (empty array when the doc is shorter than n). A column
    name, not an expression: the lambda reads the array n times per
    shingle, and Spark does not share subexpressions inside a lambda —
    a tokenizer expression here would re-run once per element read."""
    tok = F.col(tok_col)
    parts = lambda i: [F.element_at(tok, i + off) for off in range(n)]  # noqa: E731
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - (n - 1)),
            lambda i: F.concat_ws(" ", *parts(i)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingled(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """(doc_id, sh): exploded word 3-shingles.

    fan_out first: the explode and the k-per-shingle hashing pipelined
    on top of it are the dedup pipeline's hot loop — they must run on
    every core, not on however few splits the input file happens to
    have (no-op on a well-split cluster read). Keyed on doc_id so the
    downstream per-doc aggregations (minhash min(), shingle-set
    distinct) inherit the partitioning and need no further exchange.
    Each document is tokenized once, into a column the shingle lambda
    then reads."""
    from clinical_data_warehouse_bi_spark.io import fan_out

    return fan_out(docs.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    ).select("doc_id", F.explode(word_shingles("__toks", 3)).alias("sh"))


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, sig) over a (doc_id, sh) shingle relation: the
    k minhashes (h_i = min md5(i || ':' || sh)) in ONE aggregation —
    k min() columns over the shingles, one shuffle total (the naive
    explode x seeds then groupBy(doc, seed) multiplies the shuffle
    k-fold; this one is a map-side partial min per column and a tiny
    reduce) — then each band's signature, the md5 of its minhashes
    joined in seed order, as a pure projection + unpivot."""
    rows = MINHASH_SEEDS // MINHASH_BANDS
    # one parsed SQL string per column: k Column-object towers cost
    # ~4 py4j round-trips each in plan-build time, a string costs one
    wide = sh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(md5(concat('{i}:', sh)))").alias(f"mh{i}")
            for i in range(MINHASH_SEEDS)
        ]
    )
    bands = ", ".join(
        f"{b}, md5(concat_ws('|', "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + "))"
        for b in range(MINHASH_BANDS)
    )
    return wide.select(
        "doc_id", F.expr(f"stack({MINHASH_BANDS}, {bands}) AS (band, sig)")
    ).select("doc_id", F.col("band").cast("int"), "sig")


def band_join(
    bands: DataFrame, id_col: str = "doc_id", carry: str | None = None
) -> DataFrame:
    """The LSH candidate join, the one banded self-join of the dedup
    family (MinHash, SimHash, pHash, sign-LSH): distinct id pairs
    a < b sharing at least one (band, sig) bucket of an
    (``id_col``, band, sig[, ``carry``]) relation — bounded buckets,
    never all-pairs. Returns ({stem}_a, {stem}_b) for an ``id_col``
    named {stem}_id, plus ``carry``_a / ``carry``_b when a per-id
    column rides along for the caller's verify step.

    The input is cached first: a self-join otherwise re-derives the
    whole upstream signature DAG for BOTH sides. The band relation is
    ids x bands rows of scalars — at 100 TB still ~GBs and cache-able;
    if not, materialize it to parquet instead. cache (not
    localCheckpoint) deliberately: plan-matching lets repeated
    invocations in one session reuse the materialization; sessions
    running many unrelated queries should clearCache between them
    (bench.py does)."""
    bands = bands.cache()
    stem = id_col.removesuffix("_id")
    carried = [carry] if carry else []

    def side(s: str) -> DataFrame:
        return bands.select(
            F.col(id_col).alias(f"{stem}_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carried],
            F.col("band").alias(f"band_{s}"),
            F.col("sig").alias(f"sig_{s}"),
        )

    return (
        side("a")
        .join(
            side("b"),
            (F.col("band_a") == F.col("band_b"))
            & (F.col("sig_a") == F.col("sig_b"))
            & (F.col(f"{stem}_a") < F.col(f"{stem}_b")),
        )
        .select(
            f"{stem}_a", f"{stem}_b",
            *[f"{c}_{s}" for c in carried for s in ("a", "b")],
        )
        .distinct()
    )


def hamming_pairs(
    hashes: DataFrame, hash_col: str, bits: int, n_bands: int, max_hamming: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair of (doc_id, ``hash_col``)
    rows within ``max_hamming`` bits — an EXACT Hamming-radius join
    expressed as bucketed equi-joins: split each ``bits``-bit hash
    into ``n_bands`` bands, band_join on (band, band value), then
    verify with bit_count(a ^ b). Exact (pigeonhole: k differing bits
    spoil at most k bands) while max_hamming < n_bands; a wider
    radius needs more, narrower bands. Bands are cut as
    shiftrightunsigned(h, k) & mask: a 64-bit hash is a signed long,
    on which a remainder (shiftright(h, k) % 2^width) goes negative
    and splits equal bands by the sign bit."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding is exact only for max_hamming < n_bands"
            f" ({max_hamming} >= {n_bands}): raise n_bands"
        )
    if bits % n_bands:
        raise ValueError(f"n_bands must divide {bits}, got {n_bands}")
    width = bits // n_bands
    mask = (1 << width) - 1
    cut = ", ".join(
        f"shiftrightunsigned({hash_col}, {j * width}) & {mask}"
        for j in range(n_bands)
    )
    bands = hashes.select(
        "doc_id", hash_col, F.posexplode(F.expr(f"array({cut})")).alias("band", "sig")
    )
    hamming = F.expr(f"cast(bit_count({hash_col}_a ^ {hash_col}_b) as int)")
    return (
        band_join(bands, carry=hash_col)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _keep_first(
    units: DataFrame, id_col: str, count_col: str, sep: str
) -> DataFrame:
    """The keep-first core of the unit dedups (chunk_dedup,
    paragraph_dedup, cdc_chunk_dedup): over (__id, __units), one
    non-NULL array of unit strings per document (the callers guard
    Spark's descending sequence(0, -1) and map NULL text to an empty
    array), keep the globally first
    occurrence of each distinct unit (order: id, then position) and
    rebuild each document from its surviving units joined by ``sep``.
    Returns (``id_col``, ``count_col``, n_kept, clean_text), one row
    per input row: a document with no units (NULL or token-less text)
    gives (id, 0, 0, '').

    Text never shuffles: unit identity is two salted xxhash64s, 128
    bits, computed in the scan's map stage, so the keep-first window
    exchanges only the slim (id, pos, h1, h2) relation, and the
    rebuild joins the kept positions back to a re-derived units scan
    (re-splitting is cheaper than shuffling or caching raw text; the
    q_corpus_clean measurement). NOTE: xxhash64 is engine-specific —
    the DuckDB oracles dedup on the unit STRINGS instead, which is
    what verifies this shortcut."""
    from pyspark.sql import Window

    w_keep = Window.partitionBy("h1", "h2").orderBy("__id", "pos")
    kept = (
        _unit_hashes(units)
        .withColumn("rn", F.row_number().over(w_keep))
        .filter(F.col("rn") == 1)
        .groupBy("__id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("kept_pos"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
    )
    rebuild = F.array_join(
        F.transform("kept_pos", lambda p: F.element_at("__units", p + 1)), sep
    )
    return units.join(kept, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.size("__units").cast("bigint").alias(count_col),
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce(rebuild, F.lit("")).alias("clean_text"),
    )


def _unit_hashes(units: DataFrame) -> DataFrame:
    """(__id, pos, h1, h2): every element of the (__id, __units)
    relation's unit array as its 0-based position and two salted
    xxhash64s — the slim relation a keep-first window shuffles."""
    hp = F.expr(
        "transform(__units, s -> struct(xxhash64(s) as h1, xxhash64(s, 'b') as h2))"
    )
    return units.select("__id", F.posexplode(hp).alias("pos", "hp")).select(
        "__id", "pos", "hp.h1", "hp.h2"
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """Sub-document exact dedup with reconstruction (q_chunk_dedup's
    core, reusable over any (id, text) frame — including its own
    output, which makes the operator idempotent by construction):
    split into non-overlapping ``chunk_tokens``-token chunks, keep the
    globally first occurrence of each distinct chunk (order: id, then
    position), rebuild each document from its surviving chunks.
    Returns (id, n_chunks, n_kept, clean_text); the scale shape is
    _keep_first's."""
    c = int(chunk_tokens)
    units = F.expr(
        f"CASE WHEN size(w) > 0 THEN transform(sequence(0, (size(w) - 1) div {c}),"
        f" i -> concat_ws(' ', slice(w, i * {c} + 1, {c}))) ELSE array() END"
    )
    toks = docs.select(F.col(id_col).alias("__id"), tokens(text_col).alias("w"))
    return _keep_first(
        toks.select("__id", units.alias("__units")), id_col, "n_chunks", " "
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
) -> DataFrame:
    """Paragraph/line-level exact dedup with reconstruction — the
    boundary-based sibling of chunk_dedup and the form newline
    corpora actually run (Dolma/RefinedWeb drop repeated paragraphs
    corpus-wide, keeping the first occurrence): split on ``delim``,
    drop whitespace-only units, keep the globally first occurrence of
    each distinct unit (order: id, then position), rebuild each
    document from its survivors joined by ``delim``.

    Returns (id, n_paras, n_kept, clean_text); the scale shape is
    _keep_first's. Idempotent by construction (units are
    delimiter-bounded, so re-splitting the rebuilt text reproduces
    exactly the kept units). F.split takes a Java REGEX, so the
    delimiter is escaped there (a '.' or '|' would split
    per-character)."""
    import re as _re

    units = F.filter(
        F.split(text_col, _re.escape(delim)), lambda s: F.trim(s) != ""
    )
    return _keep_first(
        docs.select(
            F.col(id_col).alias("__id"),
            F.coalesce(units, F.array().cast("array<string>")).alias("__units"),
        ),
        id_col,
        "n_paras",
        delim,
    )


def quota_sample(
    docs: DataFrame,
    group_col: str = "source",
    n_per_group: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quota cap: keep at most ``n_per_group`` documents
    per ``group_col`` value — the domain-capping step a corpus mix
    runs so no single source (one crawl domain, one dump) dominates
    the training distribution (the per-domain caps in C4/RefinedWeb;
    the COMPLEMENT of io.temperature_mix_keyed, which reweights
    between whole sources after each is capped).

    Selection is deterministic and unbiased WITHIN a group: priority
    is the md5 of the document id (a uniform content-independent
    ranking both engines reproduce — the q_corpus_clean fingerprint
    convention), id-tiebroken.

    Scale shape: ONE shuffle on the group key. The rank<=n predicate
    compiles to WindowGroupLimit (plan-tested), so every map task
    pre-prunes its partition to n rows per group BEFORE the
    exchange — a hot domain ships n rows per upstream partition, not
    its whole row set, which is what makes a quota cap survive the
    one-giant-domain skew case at 100 TB."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n_per_group))
        .drop("__rn")
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_window: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Sub-document dedup with CONTENT-DEFINED chunk boundaries (the
    Rabin/CDC idea from dedup storage systems, token-level): a chunk
    boundary falls after token i iff the rolling hash of the last
    ``hash_window`` tokens is 0 mod ``divisor`` (expected chunk
    length ~= divisor tokens). Because a boundary depends only on the
    trailing token window, INSERTING text shifts every fixed-window
    chunk after the edit but leaves CDC boundaries downstream intact
    — shared suffixes still dedup, the exact failure mode of
    chunk_dedup's fixed windows (and the reason storage dedup
    abandoned fixed blocks).

    Boundaries and chunks are per-row array expressions; the scale
    shape is _keep_first's. Returns (id, n_chunks, n_kept,
    clean_text)."""
    k, d = int(hash_window), int(divisor)
    toks = docs.select(F.col(id_col).alias("__id"), tokens(text_col).alias("w"))
    # boundary hash is PORTABLE md5 (int of the first 8 hex chars) so
    # the DuckDB oracle can recompute the same cuts — xxhash64 is
    # engine-specific and stays confined to the unit identity, which
    # the oracle verifies by deduping chunk STRINGS. Both sequences
    # are guarded: Spark's sequence(1, 0) descends instead of
    # returning empty.
    cuts = F.expr(
        f"CASE WHEN size(w) > 1 THEN filter(sequence(1, size(w) - 1),"
        f" i -> pmod(cast(conv(substring(md5(concat_ws(' ',"
        f"   slice(w, greatest(1, i - {k} + 1), least({k}, i)))), 1, 8),"
        f"   16, 10) as bigint), {d}) = 0) ELSE array() END"
    )
    chunks = F.expr(
        "CASE WHEN size(w) > 0 THEN zip_with("
        "  concat(array(1), transform(__cuts, c -> c + 1)),"
        "  concat(__cuts, array(size(w))),"
        "  (s, e) -> concat_ws(' ', slice(w, s, e - s + 1))) ELSE array() END"
    )
    units = toks.withColumn("__cuts", cuts).select("__id", chunks.alias("__units"))
    return _keep_first(units, id_col, "n_chunks", " ")


def _md5_uniform(seed: str, col: str) -> Column:
    """A reproducible uniform u in (0, 1] per row: (h + 1) / (2^32 + 1)
    for h the int of the first 8 hex digits of md5(seed:value) —
    never 0, the same on any cluster layout, and IEEE double
    arithmetic a DuckDB twin reproduces exactly."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(col).cast("string"))), 1, 8
        ),
        16,
        10,
    )
    return (h.cast("double") + F.lit(1.0)) / F.lit(4294967297.0)


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "ws0",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES priority sampling): each row draws a
    reproducible uniform u from a PORTABLE md5 of (seed, id) and
    gets priority u^(1/w); the k highest priorities are the sample —
    inclusion probability proportional to weight, exactly the
    quality-weighted subsampling a curated corpus mix runs (keep
    better docs more often, never deterministically).

    Scale shape: priority is one per-row expression; selection is a
    TakeOrderedAndProject top-k — no shuffle, no RNG state, and the
    same (seed, id, weight) always reproduces the same sample on any
    cluster layout (Spark's rand() cannot promise that across
    partitionings). Rows with weight <= 0 are excluded; ties at the
    k boundary break by id. The md5-derived uniform and the pow are
    IEEE doubles, so a DuckDB twin reproduces the sample exactly
    (value-checked in tests)."""
    if k <= 0:
        raise ValueError("k must be positive")
    pri = F.pow(_md5_uniform(seed, id_col), F.lit(1.0) / F.col(weight_col))
    return (
        docs.where(F.col(weight_col) > 0)
        .withColumn("__pri", pri)
        .orderBy(F.col("__pri").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__pri")
    )


def repeat_upsample(
    docs: DataFrame,
    factors: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "up0",
    out_col: str = "copy_idx",
) -> DataFrame:
    """Deterministic FRACTIONAL upsampling by source — the data-mix
    repeat factors public LLM recipes publish (e.g. "wiki x 3.2,
    web x 0.8"): every row emits floor(f) copies plus one more iff
    its portable md5-uniform falls under frac(f), so each source's
    expected multiplicity is exactly its factor and the realized
    copy COUNT per row is a pure function of (seed, id) — stable
    across runs, cluster layouts, and corpus growth, where
    rand()-based Bernoulli rounding is none of those. Output rows
    carry ``out_col`` = 1..n (the training loader's copy index).
    Factors < 1 downsample by the same rule (0 copies when the
    uniform lands above f); sources absent from ``factors`` keep
    factor 1.0 (pass through once).

    Scale shape: one per-row CASE + a generated-sequence explode —
    map-side fan-out only, NO shuffle, no RNG state; the sequence is
    guarded (CASE WHEN n >= 1) because Spark's sequence(1, 0)
    DESCENDS instead of returning empty."""
    if any(f < 0 for f in factors.values()):
        raise ValueError("repeat factors must be >= 0")
    u = _md5_uniform(seed, id_col)
    f = F.lit(1.0)
    for name, fac in factors.items():
        f = F.when(F.col(source_col) == name, F.lit(float(fac))).otherwise(f)
    n = (F.floor(f) + F.when(u < f - F.floor(f), F.lit(1)).otherwise(F.lit(0))).cast(
        "bigint"
    )
    return (
        docs.withColumn("__n", n)
        .where(F.col("__n") >= 1)
        .withColumn(
            out_col,
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("__n"))),
        )
        .drop("__n")
    )


def epoch_shuffle(
    df: DataFrame,
    seed: int,
    id_col: str = "doc_id",
    pos_col: str = "epoch_pos",
    n_ranges: int = 64,
) -> DataFrame:
    """Deterministic training-epoch permutation: every row receives a
    dense global position 1..N in the order of a seeded md5 over its
    id — the epoch shuffle a training-data pipeline runs before
    cutting each epoch into shards. Same promises as split_assign
    (portable, cluster-layout-independent, stable per (seed, id),
    a DIFFERENT permutation per seed) — none of which Spark's
    rand()/orderBy(rand()) can make.

    100 TB shape: NO global window. The seeded hash range-partitions
    the rows (repartitionByRange — sampled boundaries, but the
    output ranks are boundary-INDEPENDENT: over range-disjoint
    sorted partitions, rank = partition offset + local index
    whatever the cut points), each partition sorts locally, and
    keys.zip_index_key assigns the dense global position with one
    tiny per-partition stats job — the same machinery the DWH fact
    key uses. The single-partition ORDER BY form is the DuckDB
    oracle twin, not the execution plan."""
    from clinical_data_warehouse_bi_spark.keys import zip_index_key

    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    arranged = (
        df.withColumn("__eh", h)
        .repartitionByRange(n_ranges, F.col("__eh"), F.col(id_col))
        .sortWithinPartitions("__eh", id_col)
    )
    return zip_index_key(arranged, name=pos_col).drop("__eh")


def split_assign(
    docs: DataFrame,
    fractions: dict[str, float],
    seed: str = "split0",
    by_col: str = "doc_id",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: every row draws a
    reproducible uniform u from a PORTABLE md5 of (seed, by value)
    (the weighted_sample construction) and lands in the split whose
    cumulative-fraction interval contains it. ``fractions`` maps
    split name -> fraction, summing to 1 (names in insertion order
    define the intervals, so the same dict always reproduces the
    same assignment).

    ``by_col`` is the assignment KEY, not just an id: rows sharing a
    value land in the SAME split — pass a cluster/domain/patient
    column (e.g. the graph.connected_components label of the near-dup
    pairs) for leakage-safe splitting.

    Scale shape: one per-row expression, NO shuffle, no RNG state —
    the same (seed, key) produces the same split on any cluster
    layout and at any later date (Spark's rand() cannot promise
    either), so an append-only corpus keeps its historical
    assignment stable as it grows. The md5-derived uniform is IEEE
    double arithmetic a DuckDB twin reproduces exactly
    (value-checked in tests)."""
    names = list(fractions)
    if len(names) < 2:
        raise ValueError("need at least two splits")
    fracs = [float(fractions[n]) for n in names]
    if any(f <= 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError("fractions must be positive and sum to 1")
    u = _md5_uniform(seed, by_col)
    cum = 0.0
    expr = F.lit(names[-1])  # the last split takes the top interval
    bounds = []
    for n, f in zip(names[:-1], fracs[:-1]):
        cum += f
        bounds.append((n, cum))
    for n, b in reversed(bounds):
        expr = F.when(u <= F.lit(b), F.lit(n)).otherwise(expr)
    return docs.withColumn(out_col, expr)


def remove_boilerplate(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """Per-source boilerplate LINE removal (the CCNet/web-corpus
    cleaning step between a whole-document quality drop and
    chunk_dedup's cross-doc dedup): a line that
    appears in more than ``min_frac`` of a source's documents is
    navigation/header/footer furniture, not content — strip it from
    every document of that source, preserving the order of the
    surviving lines. Sources with fewer than ``min_docs`` documents
    are left untouched (a 2-doc source would flag half its prose).

    Scale shape (the chunk-dedup discipline): lines leave the scan
    as (source, salted-xxhash64-pair, doc) — line TEXT never
    shuffles; the boilerplate relation is per-source distinct-doc
    counts vs the source's doc count (two slim aggregations); the
    rebuild re-splits the documents map-side and drops positions
    whose hash pair is in the (broadcast) boilerplate set. Returns
    the input schema with ``text_col`` rewritten and an
    ``n_removed_lines`` column appended.

    Line identity is the salted 64-bit pair (xxhash64(x),
    xxhash64('b:', x)) — 128 collision bits like the former md5
    pair (the q_top_ngrams/q_repeated_spans hazard budget), for a
    fraction of the per-line CPU and 16 bytes through the counting
    exchange instead of two 32-char hex strings (round-17 A/B at
    sf0.1: md5 best 1.43/median 1.59 s -> xxhash 1.25/1.56, and
    1.23/1.27 with the keyed fan_out the registered query adds —
    identical output checksums; guide §2.3 narrower types)."""
    if not (0.0 < min_frac <= 1.0):
        raise ValueError("min_frac must be in (0, 1]")
    lines = F.expr(f"filter(split({text_col}, '\\n'), x -> length(trim(x)) > 0)")
    base = docs.select(
        F.col(id_col).alias("__id"),
        F.col(source_col).alias("__src"),
        lines.alias("__lines"),
    )
    # slim per-(source, line) distinct-doc counts: hash pairs only
    hashed = base.select(
        "__id",
        "__src",
        F.explode(
            F.expr(
                "transform(__lines,"
                " x -> named_struct('h1', xxhash64(x), 'h2', xxhash64('b:', x)))"
            )
        ).alias("hp"),
    ).select("__id", "__src", F.col("hp.h1").alias("h1"), F.col("hp.h2").alias("h2"))
    per_line = hashed.distinct().groupBy("__src", "h1", "h2").agg(
        F.count("*").alias("n_docs_with")
    )
    per_src = base.groupBy("__src").agg(F.count("*").alias("n_docs"))
    boiler = (
        per_line.join(F.broadcast(per_src), "__src")
        .where(
            (F.col("n_docs") >= min_docs)
            & (F.col("n_docs_with") > F.lit(min_frac) * F.col("n_docs"))
        )
        .select("__src", "h1", "h2")
    )
    # rebuild entirely MAP-SIDE: collapse each source's boilerplate
    # to a hash set (tiny by construction — furniture lines per
    # source), broadcast it, and filter each document's own line
    # array in place. No doc-keyed exchange, no line text in any
    # shuffle, order preserved trivially.
    boiler_sets = boiler.groupBy("__src").agg(
        F.collect_set(F.expr("named_struct('h1', h1, 'h2', h2)")).alias("__bl")
    )
    out_cols = [c for c in docs.columns if c != text_col]
    enriched = docs.withColumn("__lines", lines).withColumn(
        "__src", F.col(source_col)
    )
    return (
        enriched.join(F.broadcast(boiler_sets), "__src", "left")
        .withColumn(
            "__clean_lines",
            F.expr(
                "IF(__bl IS NULL, __lines,"
                " filter(__lines, x -> NOT array_contains("
                "   __bl, named_struct('h1', xxhash64(x), 'h2', xxhash64('b:', x)))))"
            ),
        )
        .select(
            *out_cols,
            F.expr("array_join(__clean_lines, '\\n')").alias(text_col),
            (F.size("__lines") - F.size("__clean_lines"))
            .cast("bigint")
            .alias("n_removed_lines"),
        )
    )


def remove_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    max_occurrences: int = 1,
) -> DataFrame:
    """CROSS-document repeated-span removal at n-gram granularity —
    the sliding-window form of exact-substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models
    Better", public arXiv:2107.06499: remove every later occurrence
    of a sufficiently long substring shared across the corpus;
    approximated here on token n-grams so the machinery stays
    relational). Completes the granularity ladder: doc (corpus
    clean) > paragraph > chunk/CDC > THIS (any aligned n-token
    window) > line (within-doc).

    Rule: the globally FIRST ``max_occurrences`` occurrences of each
    n-gram (order: doc_id, then position) are kept; every LATER
    occurrence is a removal span. Every token covered by a removal
    span is dropped; overlap resolution is removal-wins (a token
    inside both a kept occurrence's window and a later repeated
    window is dropped), which is what makes the rule a pure
    position-set union — deterministic and SQL-expressible for the
    oracle.

    Returns (id, n_tokens, n_removed, clean_text).

    Equality caveat: two occurrences are "the same n-gram" iff their
    (xxhash64(s), xxhash64(s, 'b')) pairs match — same algorithm and
    seed, differing only in a salt operand, so the two 64-bit values
    are correlated rather than independent. A collision silently
    deletes unique text with NO detection path (nothing downstream
    re-checks the strings); acceptable at this bit-width for corpus
    cleaning (the cross-engine tests recompute on strings and would
    surface a systematic collision), but callers who cannot tolerate
    silent false removal should verify candidates on a sample before
    rebuilding.

    Scale shape (the chunk_dedup discipline, one new twist): the
    HEAVY relation never shuffles keyed — the scan reduces each
    sliding window to two salted xxhash64s, so the keep-first window
    exchanges only (id, pos, h1, h2), 28 bytes per token position.
    Token arrays DO move exactly once: the rebuild joins the per-doc
    removal arrays back to the re-tokenized scan on the doc id —
    broadcast while ``removed`` fits the threshold, a single
    doc-id-keyed shuffle of the token arrays at corpus scale (the
    chunk_dedup rebuild contract; re-tokenizing map-side is still
    cheaper than carrying text through the hash exchange). At 100 TB
    the sliding explode is ~n_tokens rows/doc (vs n_tokens/chunk for
    chunk_dedup) — the documented cost of window-aligned
    sensitivity; the hash-exchange payload stays slim either way."""
    n = int(ngram)
    if n < 2:
        raise ValueError("ngram must be >= 2 (use dedup/corpus_clean for 1)")
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col).alias("__id"), tokens(text_col).alias("w"))
    grams = _unit_hashes(
        toks.filter(F.size("w") >= n).select(
            "__id",
            F.expr(
                f"transform(sequence(1, size(w) - {n - 1}),"
                f" i -> concat_ws(' ', slice(w, i, {n})))"
            ).alias("__units"),
        )
    )
    part = Window.partitionBy("h1", "h2")
    marked = grams.select(
        "__id",
        "pos",
        F.row_number().over(part.orderBy("__id", "pos")).alias("rn"),
    )
    # removal spans -> per-doc covered token-index set (1-based):
    # span at 0-based pos covers tokens pos+1 .. pos+n
    removed = (
        marked.filter(F.col("rn") > int(max_occurrences))
        .groupBy("__id")
        .agg(F.collect_list("pos").alias("spans"))
        .select(
            "__id",
            F.expr(
                f"array_sort(array_distinct(flatten("
                f"  transform(spans, p -> sequence(p + 1, p + {n})))))"
            ).alias("covered"),
        )
    )
    rebuild = F.expr(
        "array_join(transform("
        "  filter(sequence(1, size(w)), i -> NOT array_contains(covered, i)),"
        "  i -> element_at(w, i)), ' ')"
    )
    return (
        toks.join(removed, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.size("w").cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("covered"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.when(F.size("w") == 0, F.lit(""))
            .when(F.col("covered").isNull(), F.expr("concat_ws(' ', w)"))
            .otherwise(rebuild)
            .alias("clean_text"),
        )
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide most-frequent token n-grams with occurrence and
    document frequencies — the diagnostic that TUNES the dedup
    family (which spans will remove_repeated_spans hit? which lines
    is remove_boilerplate about to strip? is the corpus templated?).
    Returns (ngram, n_occ, n_docs) ordered by (n_occ DESC, ngram
    ASC), limited to k — a deterministic total order an oracle
    reproduces.

    Scale shape (round-17 vectorized-Arrow rewrite of the round-12
    JVM-expr form; guide §4.2 "hand whole batches to vectorized
    native libraries"): BOTH corpus passes are mapInPandas stages —
    tokenize per batch with pandas C string ops, hash every token
    once (pandas hash_pandas_object, C siphash), combine each
    window's n token hashes with a vectorized uint64
    polynomial+splitmix finalizer (numpy: no per-window string, no
    per-window Python bytecode), then

    - count pass: partial-count per task (per Arrow batch, merged),
      so only slim (h1, h2, cnt) partials — vocabulary-sized, not
      window-sized — reach the JVM aggregation; n-gram strings and
      doc ids never enter the count shuffle.
    - recovery pass: np.isin against the driver-collected candidate
      h1 set; strings are built ONLY for the ~k surviving grams'
      occurrences, broadcast-joined against the bounded candidate
      counts (which also removes h1-collision false positives),
      n_docs resolved over surviving occurrences, TakeOrdered to k.

    Measured (alternating A/B, identical 100-row reports; recorded
    in BASELINE.md and OPTIMIZATION_r17.md): equal at sf0.1 (2.13 vs
    2.23 s best — fixed job costs dominate), **2.0x at 16x**
    (7.41 -> 3.74 s) and **2.1x at 64x** (12.93 -> 6.21 s) — the
    r12/r14 records showed map-side hashing was the floor, and the
    vectorized stage moves exactly that. The gram identity is the
    mixed token-hash pair instead of xxhash64-of-elements — same
    grouping semantics modulo 128-bit collisions (the accepted
    hazard budget); the report itself is what the oracle checks.

    Control flow costs ONE driver job before recovery: a single
    TakeOrdered collect of the top candidate (h1, n_occ) rows gives
    the k-th-count threshold AND the candidate h1 set (the old form
    paid separate kth / total-windows / prefilter-collect jobs and
    gated the literal prefilter on volume — np.isin needs no such
    gate). An oversized tie set (> NGRAM_CAND_CAP rows sharing the
    k-th count) falls back to building every window's string before
    the join, exactly like the old fallback.

    ``id_col`` must be a bigint column: the recovery stage's Arrow
    schema carries it as ``long``, so any other type raises TypeError
    here, at plan-build time, instead of an Arrow error in a task."""
    if n < 1 or k < 1:
        raise ValueError("n and k must be positive")
    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, LongType):
        raise TypeError(
            f"top_ngrams needs a bigint id column; {id_col!r} is "
            f"{id_type.simpleString()}"
        )
    spark = docs.sparkSession
    schema = "ngram string, n_occ bigint, n_docs bigint"
    counts = (
        docs.select(F.col(text_col).alias("__text"))
        .mapInPandas(_ngram_count_partials(n), "h1 long, h2 long, cnt long")
        .groupBy("h1", "h2")
        .agg(F.sum("cnt").alias("n_occ"))
        .persist()
    )
    try:
        top = (
            counts.select("h1", "n_occ")
            .orderBy(F.col("n_occ").desc(), F.col("h1").asc())
            .limit(NGRAM_CAND_CAP + 1)
            .collect()
        )
        if not top:
            return local_frame(spark, [], schema)
        kth = int(top[min(k, len(top)) - 1]["n_occ"])
        cand = counts.where(F.col("n_occ") >= kth)
        if len(top) <= NGRAM_CAND_CAP or top[-1]["n_occ"] < kth:
            h1s = [r["h1"] for r in top if r["n_occ"] >= kth]
        else:
            # the tie set overflows the collected prefix: candidate
            # completeness is not guaranteed, fall back to
            # build-then-join over every window (the pre-round-12
            # shape, kept for degenerate tie corpora)
            h1s = None
        rows = (
            docs.select(
                F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
            )
            .mapInPandas(
                _ngram_recovery(n, h1s),
                "__id long, ngram string, h1 long, h2 long",
            )
            .join(F.broadcast(cand), ["h1", "h2"])
            .groupBy("ngram")
            .agg(
                F.first("n_occ").alias("n_occ"),
                F.count_distinct("__id").alias("n_docs"),
            )
            .orderBy(F.col("n_occ").desc(), F.col("ngram").asc())
            .limit(k)
            .select("ngram", "n_occ", "n_docs")
            .collect()
        )
    finally:
        counts.unpersist()
    return local_frame(spark, rows, schema)


#: candidate rows collected by top_ngrams' single control job — far
#: above any real k (the report is k<=100 plus ties) while bounding
#: driver memory; a tie set past this falls back to build-then-join
NGRAM_CAND_CAP = 100_000


def _ngram_tokenize_flat(texts):
    """(flat token object-array, per-doc lengths) for a pandas Series
    of texts — the text.tokens contract ([a-z0-9]+ over lower()),
    vectorized via pandas C string ops; nulls tokenize to nothing.

    Python's lower() is not the JVM's; the token streams agree as
    long as both lowercase every character whose lowercase form is
    in [a-z0-9] the same way (A-Z, U+0130 -> 'i' + U+0307, the Kelvin
    sign -> 'k'). Other non-ASCII letters drop out of both streams.
    tests/test_properties.py pins this on dotted I, the Kelvin sign,
    sharp s, Greek final sigma, a ligature and fullwidth letters; no
    input there tokenizes differently."""
    import itertools

    import numpy as np

    toks = texts.fillna("").str.lower().str.findall("[a-z0-9]+")
    lens = np.fromiter(
        (len(t) for t in toks), dtype=np.int64, count=len(toks)
    )
    flat = np.fromiter(
        itertools.chain.from_iterable(toks), dtype=object,
        count=int(lens.sum()),
    )
    return flat, lens


def _ngram_win_hashes(th, n):
    """Two independent 64-bit window hashes over a per-token uint64
    hash sequence: polynomial roll + splitmix64-style finalizer,
    fully vectorized (no per-window Python). Returns uint64 arrays of
    length len(th) - n + 1; callers mask doc boundaries."""
    import numpy as np

    def roll(mult, xor_seed):
        m = np.uint64(mult)
        acc = th[: len(th) - n + 1] ^ np.uint64(xor_seed)
        for j in range(1, n):
            acc = acc * m + th[j : len(th) - n + 1 + j]
        z = acc
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        return z

    return (
        roll(0x9E3779B97F4A7C15, 0),
        roll(0xC2B2AE3D27D4EB4F, 0x6A09E667F3BCC908),
    )


def _ngram_window_mask(lens, n):
    """Boolean mask over flat window-start positions: True iff the
    window does not cross a document boundary."""
    import numpy as np

    total = int(lens.sum())
    if total < n:
        return np.zeros(max(total - n + 1, 0), dtype=bool)
    doc_of = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    return doc_of[: total - n + 1] == doc_of[n - 1 :]


def _sum_by_pair(h1, h2, cnt):
    """(h1, h2, cnt) with ``cnt`` summed per distinct (h1, h2), sorted
    by the pair. A lexsort of the two uint64 columns (several times
    faster than np.unique over a 128-bit structured view, and near
    linear on input made of already sorted runs)."""
    import numpy as np

    if not len(h1):
        return h1, h2, cnt
    order = np.lexsort((h2, h1))
    h1, h2, cnt = h1[order], h2[order], cnt[order]
    first = np.ones(len(h1), dtype=bool)
    first[1:] = (h1[1:] != h1[:-1]) | (h2[1:] != h2[:-1])
    idx = np.flatnonzero(first)
    return h1[idx], h2[idx], np.add.reduceat(cnt, idx)


def _ngram_count_partials(n: int):
    """mapInPandas op: slim (h1, h2, cnt) partial counts per task —
    counted per Arrow batch, so the JVM aggregation receives
    vocabulary-sized partials only. The batch counts are merged into
    one table whenever the unmerged ones outgrow it: the task holds
    at most about twice its vocabulary plus one batch (never all of
    its windows), and the doubling re-merges each entry only a
    logarithmic number of times."""

    def op(it):
        import numpy as np
        import pandas as pd

        def merged(runs):
            return _sum_by_pair(*(np.concatenate(col) for col in zip(*runs)))

        runs, unmerged = [], 0  # runs[0] is the merged table
        for pdf in it:
            flat, lens = _ngram_tokenize_flat(pdf["__text"])
            if len(flat) < n:
                continue
            th = pd.util.hash_pandas_object(
                pd.Series(flat, dtype=object), index=False
            ).to_numpy()
            h1, h2 = _ngram_win_hashes(th, n)
            mask = _ngram_window_mask(lens, n)
            runs.append(
                _sum_by_pair(h1[mask], h2[mask], np.ones(int(mask.sum()), np.int64))
            )
            if len(runs) > 1:
                unmerged += len(runs[-1][0])
                if unmerged > len(runs[0][0]):
                    runs, unmerged = [merged(runs)], 0
        if runs:
            h1, h2, cnt = merged(runs) if len(runs) > 1 else runs[0]
            yield pd.DataFrame(
                {"h1": h1.view(np.int64), "h2": h2.view(np.int64), "cnt": cnt}
            )

    return op


def _ngram_recovery(n: int, cand_h1: list | None):
    """mapInPandas op: (doc id, ngram string, h1, h2) for windows
    whose h1 is in the candidate set (np.isin — vectorized, no
    per-window Python until a window survives); ``cand_h1=None``
    emits every valid window's string (the tie-overflow fallback)."""

    def op(it):
        import numpy as np
        import pandas as pd

        cand = (
            np.asarray(cand_h1, dtype=np.int64).view(np.uint64)
            if cand_h1 is not None
            else None
        )
        for pdf in it:
            flat, lens = _ngram_tokenize_flat(pdf["__text"])
            if len(flat) < n:
                continue
            th = pd.util.hash_pandas_object(
                pd.Series(flat, dtype=object), index=False
            ).to_numpy()
            h1, h2 = _ngram_win_hashes(th, n)
            hit = _ngram_window_mask(lens, n)
            if cand is not None:
                hit = hit & np.isin(h1, cand)
            idx = np.nonzero(hit)[0]
            if len(idx) == 0:
                continue
            doc_ids = np.repeat(pdf["__id"].to_numpy(), lens)
            yield pd.DataFrame(
                {
                    "__id": doc_ids[idx],
                    "ngram": [" ".join(flat[i : i + n]) for i in idx],
                    "h1": h1[idx].view(np.int64),
                    "h2": h2[idx].view(np.int64),
                }
            )

    return op


def chunk_text(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style document chunking: split each document into
    token-windowed chunks of ``chunk_tokens`` whitespace tokens with
    ``overlap_tokens`` carried between neighbors — the
    retrieval-granularity prep step between a raw corpus and a
    passage index (chunk, embed/index, retrieve, cite back to the
    parent via (doc_id, chunk_idx, token span)).

    Chunk boundaries are DETERMINISTIC functions of the token
    sequence (stride = chunk - overlap), so re-chunking a corpus is
    idempotent and chunk ids are stable across runs — the property
    every downstream exactly-once index append relies on.

    Semantics pinned by tests: every token of every document appears
    in at least one chunk; consecutive chunks share exactly
    ``overlap_tokens`` tokens (except a shorter final chunk); a
    document shorter than one chunk yields itself; empty/null text
    yields no chunks. Chunk text joins tokens with single spaces
    (tokenization-normalized, the retrieval tokenizer's view).

    Scale shape: pure per-row array expressions — tokenize once,
    slice per chunk via sequence + transform — ZERO exchanges, no
    UDF; the explode multiplies rows by ceil(tokens/stride), never
    by the quadratic all-pairs a join-based windowing would. The
    short-input guard wraps sequence() because Spark's
    sequence(1, 0) DESCENDS instead of returning empty (the
    top_ngrams lesson)."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("overlap_tokens must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap_tokens
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), "\\s+").alias(
            "__w"
        ),
    ).withColumn(
        "__w", F.filter("__w", lambda t: t != "")
    ).withColumn("__n", F.size("__w"))
    # number of chunks: 1 + ceil(max(n - chunk, 0) / stride) for n>0
    n_chunks = F.when(
        F.col("__n") <= 0, F.lit(0)
    ).otherwise(
        F.lit(1)
        + F.ceil(
            F.greatest(F.col("__n") - F.lit(chunk_tokens), F.lit(0))
            / F.lit(stride)
        ).cast("int")
    )
    chunked = (
        toks.withColumn("__k", n_chunks)
        .filter(F.col("__k") > 0)
        .withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0), F.col("__k") - 1)),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * stride).alias("token_start"),
            F.least(
                F.col("chunk_idx") * stride + chunk_tokens, F.col("__n")
            ).alias("token_end"),
            F.array_join(
                F.slice(
                    "__w",
                    F.col("chunk_idx") * stride + 1,
                    F.lit(chunk_tokens),
                ),
                " ",
            ).alias("chunk_text"),
        )
    )
    return chunked


def vocabulary_divergence(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Token-distribution divergence between two corpus snapshots:
    before swapping a refreshed crawl (or a re-filtered mix) into a
    training run, the question is WHICH tokens moved and by how much.
    Computes the per-token contribution to the Jensen-Shannon
    divergence between the two corpora's unigram distributions
    (base-2 JS: symmetric, bounded [0, 1], defined even where one
    side is zero — KL is not) and returns the ``top_k`` largest
    contributors: (token, p_a, p_b, js_contrib) ordered by
    (js_contrib DESC, token ASC), where p_a/p_b are true corpus
    frequencies. Summing js_contrib over the FULL vocabulary
    (top_k = a large bound) gives the total JS divergence.

    Scale shape: one count aggregation per corpus whose exchange
    carries (token, count) — single tokens are a bounded vocabulary,
    unlike n-grams (top_ngrams' hash-pair discipline exists because
    n-gram vocabulary explodes; unigrams do not) — then a full outer
    join of the two slim count relations, per-row JS arithmetic, and
    a TakeOrdered top-k. Nothing corpus-sized is joined or
    collected; the total-mass scalars ride as 1-row broadcast
    crossJoins."""
    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias(f"n_{side}"))
        )

    return divergence_from_counts(
        counts(corpus_a, "a"), counts(corpus_b, "b"), top_k
    )


def divergence_from_counts(
    ca: DataFrame,
    cb: DataFrame,
    top_k: int = 50,
) -> DataFrame:
    """vocabulary_divergence's counts-based core: takes the two
    (token, n_a) / (token, n_b) count relations directly — the shape
    a persisted token-count synopsis serves, so drift against a
    reference snapshot never re-tokenizes the corpus. Same output
    contract as vocabulary_divergence."""
    if top_k < 1:
        raise ValueError("top_k must be positive")
    tot_a = ca.agg(F.sum("n_a").alias("__ta"))
    tot_b = cb.agg(F.sum("n_b").alias("__tb"))
    joined = (
        ca.join(cb, "token", "full_outer")
        .na.fill({"n_a": 0, "n_b": 0})
        .crossJoin(F.broadcast(tot_a))
        .crossJoin(F.broadcast(tot_b))
    )
    p = F.col("n_a") / F.col("__ta")
    q = F.col("n_b") / F.col("__tb")
    m = (p + q) / F.lit(2.0)
    # 0*log(0/x) := 0 (the JS convention); log base 2
    term = (
        F.when(F.col("n_a") > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("n_b") > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    return (
        joined.select(
            "token",
            p.alias("p_a"),
            q.alias("p_b"),
            term.alias("js_contrib"),
        )
        .orderBy(F.col("js_contrib").desc(), F.col("token").asc())
        .limit(top_k)
    )


#: vocabulary rows under which the idf/count relations broadcast; a
#: (term, df, n) row is ~40 B, so 2M rows ~ 80 MB — inside the
#: session's 64m autoBroadcast budget once compressed, far inside
#: executor memory. Above it the join flips to a term-keyed shuffle.
VOCAB_BROADCAST_MAX_ROWS = 2_000_000


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    vocab_broadcast_max_rows: int = VOCAB_BROADCAST_MAX_ROWS,
    count_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords — the classic
    keyword-extraction / document-labeling primitive (Salton &
    Buckley's term weighting; what a corpus browser shows next to
    each document and what weak-supervision topic tagging starts
    from). Returns (doc_id, term, tf, df, score, rnk) with rnk
    1..k per document; score = round(tf * ln((N + 1)/(df + 1)), 4)
    (add-one-smoothed idf: defined even for a term in every doc) and
    the deterministic total order (score DESC, term ASC) — the
    retrieval.py ln convention: ln is not required to be correctly
    rounded by IEEE 754, so the score is rounded to 4 decimals in
    BOTH engines and the rounded value is the contract.

    Scale shape (three slim exchanges, no raw text in any of them):
    (1) the tf aggregation exchanges distinct (doc, term) pairs with
    map-side partial combine — vocabulary-per-doc granularity, the
    lm.py bigram-count class, never full token streams; the slim tf
    relation is persisted across its two consumers (df derivation
    and scoring — exchange reuse is not guaranteed across a
    broadcast-subtree boundary, the q_skew_report finding; the
    harness's release_new_persistent_rdds reclaims it). (2) df
    falls out of tf as a per-term row count — one vocabulary-sized
    exchange. (3) the per-doc top-k window exchanges scored
    (doc, term) rows — exactly the output-candidate granularity.
    The vocabulary-sized idf relation broadcast-joins back onto tf
    (the lm.py model-broadcast pattern) while it fits
    ``vocab_broadcast_max_rows``; a vocabulary that outgrows the
    budget flips that join — size-gated IN CODE via
    joins.size_gated_broadcast, whose probe is one cheap count over
    the persisted slim tf — to a term-keyed shuffle-hash join of
    two already-slim relations with no other change. N rides as a
    1-row broadcast crossJoin onto the vocabulary relation — never
    a driver-side count.

    The size gate's verdict is memoized per plan, so ``docs`` must
    not read a source that grows under an identical plan (an
    appended-to directory re-read in one session).

    ``count_docs`` (round-17): an alternative relation to count N
    from — MUST hold exactly one row per document of ``docs``.
    Callers that rebalance ``docs`` (io.fan_out) pass the raw scan
    here so the document count — a single cheap aggregation that
    needs no rebalance — does not inherit the fan_out's
    full-relation hash exchange (guide §2.4 "Exchange nodes you did
    not expect": the count subtree paid a doc_id repartition of the
    whole id column just to count rows)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be positive")
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    n_docs = (count_docs if count_docs is not None else docs).agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    # df = docs-containing-term = row count per term of the DISTINCT
    # (doc, term) relation tf already is
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    from clinical_data_warehouse_bi_spark.joins import size_gated_broadcast

    idf_side, _ = size_gated_broadcast(idf, vocab_broadcast_max_rows)
    scored = tf.join(idf_side, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
            4,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


def quality_exprs(text_col: str = "text") -> dict:
    """The Gopher/C4-style cheap quality expressions — ONE definition
    for the three consumers that must agree bit-for-bit
    (q_quality_score, q_corpus_clean's gate, and bench.py's
    corpus-release composition; round-12 review: the blend was
    written out three times and would have diverged silently on the
    first edit). Returns named Columns: n_tokens, stop_ratio
    (stopword hits over distinct types), type_token_ratio, len_score
    (tokens/100 capped at 1), quality_score (0.4/0.3/0.3 blend).
    Expression STRUCTURE is the cross-engine contract: the DuckDB
    oracles mirror it operation-for-operation so IEEE doubles match
    exactly — reassociating the arithmetic here breaks the hash
    gate."""
    toks = tokens(text_col)
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_tok = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    stop_ratio = F.size(F.array_intersect(toks, stop_arr)).cast(
        "double"
    ) / F.greatest(n_types, F.lit(1))
    ttr = n_types.cast("double") / F.greatest(n_tok, F.lit(1))
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    quality = (
        F.lit(0.4) * stop_ratio + F.lit(0.3) * ttr + F.lit(0.3) * len_score
    )
    return {
        "n_tokens": n_tok,
        "stop_ratio": stop_ratio,
        "type_token_ratio": ttr,
        "len_score": len_score,
        "quality_score": quality,
    }
