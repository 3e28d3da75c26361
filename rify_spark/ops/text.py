"""Text analysis operators over the documents table.

Each operator returns a DataFrame and has a ``*_sql()`` twin producing the
DuckDB oracle query from the same constants (ops/params.py). All columns are
integers/strings/exact doubles so value hashes match across engines.

These are JVM-side expressions end to end (no Python UDFs): tokenization,
counting and hashing stay inside whole-stage codegen, which is the scale
path — a 100 TB documents table runs these as narrow projections +
one groupBy at most.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_width
from .params import (
    CHUNK_OVERLAP,
    CHUNK_TOKENS,
    LANG_EN_MIN_HITS,
    LANG_MARKERS,
    PACK_SEQ_TOKENS,
    STOPWORDS,
    TOPNGRAM_K,
    TOPNGRAM_N,
)


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens and BPE-ish regex tokens per document."""
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens_ws"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("long").alias("n_tokens_re"),
    )


def token_count_sql() -> str:
    return """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens_ws,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_tokens_re
    FROM documents
    """


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / word-shape / stopword-ratio quality features.

    ``quality`` is a simple monotone combination; exact-rational doubles only
    (count / count), so cross-engine equality is bit-exact.
    """
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        (F.length(F.regexp_replace("text", " ", "")) / n_toks).alias("avg_word_len"),
        (stop_hits / n_toks).alias("stopword_ratio"),
    )


def quality_score_sql() -> str:
    stoplist = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           length(replace(text, ' ', '')) / len(string_split(text, ' ')) AS avg_word_len,
           len(list_filter(string_split(text, ' '), t -> t IN ({stoplist})))
             / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    """


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language heuristic: count English marker hits, threshold."""
    toks = F.split(F.lower("text"), " ")
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(m) for m in LANG_MARKERS]))
    )
    return docs.select(
        "doc_id",
        hits.cast("long").alias("en_hits"),
        F.when(hits >= LANG_EN_MIN_HITS, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
    )


def lang_id_sql() -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS)
    return f"""
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '), t -> t IN ({markers}))) AS en_hits,
           CASE WHEN len(list_filter(string_split(lower(text), ' '), t -> t IN ({markers})))
                     >= {LANG_EN_MIN_HITS}
                THEN 'en' ELSE 'unk' END AS lang_pred
    FROM documents
    """


def fingerprint(docs: DataFrame) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set (bag fingerprint — survives token reordering)."""
    return docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split(F.lower("text"), " ")))
            )
        ).alias("fp"),
    )


def fingerprint_sql() -> str:
    return """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
    FROM documents
    """


# --- PII redaction ------------------------------------------------------------

# conservative patterns valid in BOTH regex engines (Spark = java.util.regex,
# DuckDB = RE2) with identical match semantics: character classes, bounded
# quantifiers and \b only — no lookarounds (RE2 has none), no backrefs
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("longnum", r"\b[0-9]{9,}\b"),  # phone/SSN/card-shaped digit runs
]
PII_TOKEN = "[PII]"


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_hash, n_email, n_ipv4, n_longnum): text with PII
    spans replaced by ``[PII]``, reported as an md5 so the gate compares
    content without shipping documents; per-category match counts ride
    along for corpus audit dashboards.

    All JVM-side regexp expressions under whole-stage codegen — the scan
    reads (doc_id, text) only and nothing shuffles; at 100 TB this is a
    map-only pass like the other text operators. Counts are computed on
    the ORIGINAL text, sequential redaction on the text as each earlier
    category left it (email first — an email would otherwise lose its
    digits to no one, but an IPv4 inside a redacted span must not be
    double-counted... it is not: counts are per-category on the original,
    the redaction order only affects the final string, identically in the
    SQL twin)."""
    clean = F.col("text")
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            F.regexp_count("text", F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        clean = F.regexp_replace(clean, pat, PII_TOKEN)
    return docs.select("doc_id", F.md5(clean).alias("clean_hash"), *counts)


def redact_pii_sql(table: str = "documents") -> str:
    clean = "text"
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all(text, '{pat}')) AS n_{name}")
        clean = f"regexp_replace({clean}, '{pat}', '{PII_TOKEN}', 'g')"
    cols = ",\n           ".join(counts)
    return f"""
    SELECT doc_id,
           md5({clean}) AS clean_hash,
           {cols}
    FROM {table}
    """


def repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    tokens / word-bigrams that are repeats of one already seen in the doc
    (Rae et al. 2021 §A1.1 use these to drop boilerplate and degenerate
    completions). Exact-rational doubles (count / count), narrow projection
    end to end — no shuffle, no Python.

    Tokens are materialized as a column before the bigram transform (lambda
    bodies re-evaluate inline expressions per element, see
    dedup._mh_shingles)."""
    from .ngrams import ngram_transform

    with_toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    n = F.size(toks)
    # the bigram array is materialized as its own guarded column so the
    # transform runs ONCE per row, not once per reference below
    # (CollapseProject keeps multiply-referenced non-cheap aliases separate);
    # split("") yields [""], so n >= 1 always, but bigrams need n >= 2
    with_bi = with_toks.select(
        "doc_id",
        toks,
        F.when(n >= 2, ngram_transform(toks, 2))
        .otherwise(F.array().cast("array<string>"))
        .alias("bi"),
    )
    bi = F.col("bi")
    nb = F.size(bi)
    return with_bi.select(
        "doc_id",
        ((n - F.size(F.array_distinct(toks))) / n).alias("dup_token_frac"),
        F.when(nb >= 1, (nb - F.size(F.array_distinct(bi))) / nb)
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def repetition_sql(table: str = "documents") -> str:
    from .ngrams import ngram_elems_sql

    bi = ngram_elems_sql(2, "t")
    return f"""
    SELECT doc_id,
           (len(t) - len(list_distinct(t))) / len(t) AS dup_token_frac,
           CASE WHEN len(t) >= 2
                THEN (len(bi) - len(list_distinct(bi))) / len(bi)
                ELSE 0.0 END AS dup_bigram_frac
    FROM (
      SELECT doc_id, t,
             list_transform(range(0, greatest(len(t) - 1, 0)),
                            i -> {bi}) AS bi
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM {table})
    )
    """


def top_ngrams(docs: DataFrame) -> DataFrame:
    """The TOPNGRAM_K most frequent TOPNGRAM_N-word n-grams across the
    corpus (occurrence counts, duplicates within a doc counted) — the
    vocabulary/boilerplate inspection primitive behind stopword lists and
    repetition thresholds.

    Scale shape: explode -> partial-aggregated groupBy(ng) -> top-K via
    orderBy+limit, which Spark executes as TakeOrderedAndProject (a K-heap
    per partition + K-merge on the driver), never a global sort of the
    n-gram vocabulary. Ties at the boundary are broken by the n-gram string
    itself, so the result set is deterministic across engines and runs.
    """
    from .ngrams import ngram_transform

    with_toks = docs.select(F.split(F.lower("text"), " ").alias("toks"))
    ng = F.when(
        F.size("toks") >= TOPNGRAM_N,
        ngram_transform(F.col("toks"), TOPNGRAM_N),
    ).otherwise(F.array().cast("array<string>"))
    return (
        with_toks.select(F.explode(ng).alias("ng"))
        .groupBy("ng")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), F.col("ng"))
        .limit(TOPNGRAM_K)
    )


def top_ngrams_sql(table: str = "documents") -> str:
    from .ngrams import ngram_elems_sql

    elems = ngram_elems_sql(TOPNGRAM_N, "t")
    return f"""
    SELECT ng, count(*) AS n_occ FROM (
      SELECT unnest(list_transform(
               range(0, greatest(len(t) - {TOPNGRAM_N} + 1, 0)),
               i -> {elems})) AS ng
      FROM (SELECT string_split(lower(text), ' ') AS t FROM {table})
    )
    GROUP BY ng
    ORDER BY n_occ DESC, ng
    LIMIT {TOPNGRAM_K}
    """


def chunk_docs(
    docs: DataFrame,
    chunk: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Token-window chunking for training-sequence prep: overlapping
    windows of ``chunk`` whitespace tokens, stride ``chunk - overlap``.

    Pure JVM (split -> sequence -> explode -> slice/array_join): a narrow
    per-row expansion with NO shuffle — at 100 TB this pipelines with the
    scan. Window count is ``max(1, ceil((n_tok - overlap) / stride))``:
    every token lands in >= 1 chunk, the final window may be short, and a
    document never emits a window whose content the previous window fully
    covered.
    """
    stride = chunk - overlap
    if stride <= 0:
        raise ValueError("chunk must exceed overlap")
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.expr(
            f"(size(split(text, ' ')) - {overlap} + {stride} - 1)"
            f" div {stride}"
        ).cast("int"),
    )
    k = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    exploded = docs.select("doc_id", toks.alias("__toks"), n.alias("__n"), k)
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long"),
        F.least(F.lit(chunk), F.col("__n") - F.col("chunk_id") * stride)
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(
                "__toks", F.col("chunk_id") * stride + 1, F.lit(chunk)
            ),
            " ",
        ).alias("chunk_text"),
    )


def chunk_docs_sql(
    chunk: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP
) -> str:
    stride = chunk - overlap
    return f"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ),
      c AS (
        SELECT doc_id, toks,
               greatest(1, (len(toks) - {overlap} + {stride} - 1)
                           // {stride}) AS nc
        FROM t
      )
      , e AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, nc - 1)) AS k
        FROM c
      )
      SELECT doc_id, k AS chunk_id,
             least({chunk}, len(toks) - k * {stride}) AS n_chunk_tokens,
             array_to_string(
               toks[k * {stride} + 1 : k * {stride} + {chunk}], ' '
             ) AS chunk_text
      FROM e
    """


def pack_offsets(docs: DataFrame, budget: int = PACK_SEQ_TOKENS) -> DataFrame:
    """Concat-then-chunk sequence packing: documents concatenate in
    ``doc_id`` order and split into fixed ``budget``-token training
    sequences; each document gets its global token offset, the sequence
    it starts in, the offset inside that sequence, and whether it spans a
    sequence boundary.

    The global token cumsum is computed with the distributed two-pass
    scheme (the same pattern as :func:`rify_spark.ops.sample.docs_shuffle_rank`),
    NOT a bare ``Window.orderBy(doc_id)`` running sum — Spark plans that as
    ``Exchange SinglePartition``, funnelling the whole corpus through ONE
    task (the round-5 audit confirmed it in the executed plan):

      1. project the narrow (doc_id, n_tokens) relation — text never moves;
      2. ``repartitionByRange(width, doc_id)`` so each partition holds a
         contiguous doc_id range;
      3. per-partition token-sum partials (one O(width)-row aggregate,
         collected) prefix-summed driver-side into per-partition bases,
         broadcast-joined back;
      4. the in-partition running sum is a window PARTITIONED by the
         range-partition id — width-way parallel, no single-partition
         exchange anywhere.

    The result is independent of where the sampled range boundaries land:
    contiguous ranges + exact bases reproduce the one global cumsum.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    width = shuffle_width(spark)
    n = F.size(F.split("text", " ")).cast("long")
    ranged = (
        docs.select("doc_id", n.alias("n_tokens"))
        .repartitionByRange(width, "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    parts = sorted(
        (r["_pid"], r["tok"])
        for r in ranged.groupBy("_pid")
        # an all-NULL-text range partition sums to NULL: it adds 0 tokens
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tok"))
        .collect()
    )
    bases, acc = [], 0
    for pid, tok in parts:
        bases.append((pid, acc))
        acc += tok
    base = F.broadcast(
        spark.createDataFrame(bases or [(0, 0)], "_pid int, _base long")
    )
    w = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_tokens").over(w) + F.col("_base")
    out = (
        ranged.join(base, "_pid")
        .select(
            "doc_id",
            "n_tokens",
            (cum - F.col("n_tokens")).alias("global_offset"),
        )
        .localCheckpoint()
    )
    ranged.unpersist()
    return out.select(
        "doc_id",
        "n_tokens",
        "global_offset",
        F.expr(f"global_offset div {budget}").alias("seq_id"),
        (F.col("global_offset") % budget).alias("offset_in_seq"),
        (
            (F.col("global_offset") % budget) + F.col("n_tokens") > budget
        ).alias("spans_boundary"),
    )


def pack_offsets_sql(budget: int = PACK_SEQ_TOKENS) -> str:
    return f"""
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
      ),
      c AS (
        SELECT doc_id, n_tokens,
               -- DuckDB types SUM(BIGINT) OVER as HUGEINT; the gate's
               -- value hash is dtype-sensitive, so pin BIGINT
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                 AS global_offset
        FROM t
      )
      SELECT doc_id, n_tokens, global_offset,
             global_offset // {budget} AS seq_id,
             global_offset % {budget} AS offset_in_seq,
             (global_offset % {budget}) + n_tokens > {budget}
               AS spans_boundary
      FROM c
    """


# --- TF-IDF keyword extraction ----------------------------------------------

TFIDF_K = 3              # top terms kept per document
TFIDF_IDF_SCALE = 1_000_000


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """Per-document top-k TF-IDF terms -> (doc_id, term, score, rank).

    The curation primitive behind keyword extraction / topic tagging.
    Scoring uses the RATIONAL integer IDF  ``(N * SCALE) div df``  in
    place of ``ln(N/df)``: monotone in N/df, so per-document rankings
    match the log form whenever tf is equal, and — the reason it is the
    shipped default — EXACT across engines.  ``ln`` is only 1-ulp
    accurate in both the JVM and libm, and mathematically-equal scores
    from different (tf, df) pairs (e.g. 2*ln(10) vs ln(100)) can
    straddle the top-k boundary differently per engine; integer
    arithmetic cannot.  A float ``ln`` swap is one line where ranking
    fidelity to the textbook formula matters more than replayability.

    Scale shape: one explode -> (doc, term) partial-aggregated count
    (tf), document frequency folded from the SAME relation (no second
    scan), joined back (vocabulary side broadcasts below threshold /
    AQE otherwise), top-k per doc via a row_number window — the
    standard per-key-sort shuffle, k rows kept per document.  N is one
    driver-side count (metadata-sized at real scale)."""
    n_docs = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        (
            F.col("tf")
            * F.expr(f"({n_docs}L * {TFIDF_IDF_SCALE}L) div df")
        ).cast("long").alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "score", "rank")
    )


def tfidf_top_terms_sql(table: str = "documents", k: int = TFIDF_K) -> str:
    return f"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM {table}
      ),
      tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term != '' GROUP BY 1, 2
      ),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id, term,
               CAST(tf * (((SELECT count(*) FROM {table})
                           * {TFIDF_IDF_SCALE}) // df) AS BIGINT) AS score
        FROM tf JOIN df USING (term)
      ),
      ranked AS (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rnk
        FROM scored
      )
      SELECT doc_id, term, score, CAST(rnk AS BIGINT) AS rank
      FROM ranked WHERE rnk <= {k}
    """
