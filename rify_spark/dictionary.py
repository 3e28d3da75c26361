"""Term dictionary: string terms <-> 128-bit ids.

Analog of the reference's ``Translator`` (src/translator.rs:14-40), which
assigns dense ids by sorting and deduplicating all terms. Dense rank ids
require a global sort + row_number — a full shuffle whose only purpose is id
density, a property nothing downstream depends on (only bijectivity does).

Spark-first design: ids are two independent ``xxhash64`` lanes packed in a
``struct<h,l>`` — a narrow, shuffle-free projection. Encoding premises is
then embarrassingly parallel (no dictionary join at all on the encode path),
which is what makes the scheme viable at 10^12-row scale: the "dictionary"
table (term, id) is materialized only for the decode direction and for
novel-name checks.

Why 128 bits: at n = 10^12 distinct terms, expected 64-bit birthday
collisions are n^2 / 2^65 ≈ 27,000 — a guaranteed audit failure. With the
(xxhash64(t), xxhash64(t, salt)) composite the expectation is
n^2 / 2^129 ≈ 1.5e-15: collisions are extinct at any realistic corpus size.
Bijectivity is still guarded by :func:`audit_collisions` — the salted
hash-id-space collision audit, a cheap groupBy alongside dictionary
materialization.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import DictionaryCollision

SPOG = ["s", "p", "o", "g"]

# engine value type of an encoded term
ID_TYPE = "struct<h:bigint,l:bigint>"


def term_id(col):
    """128-bit term id: two independent xxhash64 lanes (the second is the
    same hash over (term, salt=1), a distinct function of the input)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        F.xxhash64(c).alias("h"), F.xxhash64(c, F.lit(1)).alias("l")
    )


def encode_quads(facts: DataFrame) -> DataFrame:
    """(s,p,o,g) string columns -> 128-bit id struct columns. Narrow, no
    shuffle."""
    return facts.select(*[term_id(c).alias(c) for c in SPOG])


def term_df(facts: DataFrame) -> DataFrame:
    """All distinct terms mentioned by a quad DataFrame, as one `term` column."""
    return (
        facts.select(F.explode(F.array(*[F.col(c) for c in SPOG])).alias("term"))
        .distinct()
    )


def build_dict(
    spark: SparkSession,
    facts: DataFrame | None = None,
    extra_terms: Iterable[str] = (),
) -> DataFrame:
    """Materialize the (term, id) dictionary for decode / membership checks.

    Sources mirror the reference's ``vertices`` (src/common.rs:111-123):
    every element of every premise quad plus every bound rule term.
    """
    parts = []
    if facts is not None:
        parts.append(term_df(facts))
    extra = [(t,) for t in extra_terms]
    if extra:
        parts.append(spark.createDataFrame(extra, "term string").distinct())
    if not parts:
        return spark.createDataFrame([], f"term string, id {ID_TYPE}")
    terms = parts[0]
    for p in parts[1:]:
        terms = terms.unionByName(p)
    return terms.distinct().select("term", term_id("term").alias("id"))


def build_dict_deferred(
    spark: SparkSession,
    facts: DataFrame | None = None,
    extra_terms: Iterable[str] = (),
) -> tuple:
    """(dict_df, audit_fn): the one-shuffle persisted dictionary plus a
    callable that runs the collision audit count when invoked. Lets the
    caller run the audit on its own schedule — e.g. in a background thread
    overlapped with the fixpoint iterations (infer_df does this): the audit
    job is independent of inference until decode, so its driver barrier
    need not sit in the serial job chain. ``audit_fn`` raises
    :class:`DictionaryCollision` on failure and materializes the persisted
    dictionary as a side effect."""
    from pyspark import StorageLevel

    parts = []
    if facts is not None:
        parts.append(
            facts.select(
                F.explode(F.array(*[F.col(c) for c in SPOG])).alias("term")
            )
        )
    extra = [(t,) for t in extra_terms]
    if extra:
        parts.append(spark.createDataFrame(extra, "term string"))
    if not parts:
        empty = spark.createDataFrame([], f"term string, id {ID_TYPE}")
        return empty, lambda: None
    terms = parts[0]
    for p in parts[1:]:
        terms = terms.unionByName(p)
    grouped = (
        terms.groupBy(term_id("term").alias("id"))
        .agg(F.min("term").alias("term"), F.max("term").alias("__term_max"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def audit_fn() -> None:
        n = grouped.filter(F.col("term") != F.col("__term_max")).count()
        if n:
            raise DictionaryCollision(f"{n} colliding ids in term dictionary")

    return grouped.select("term", "id"), audit_fn


def build_dict_audited(
    spark: SparkSession,
    facts: DataFrame | None = None,
    extra_terms: Iterable[str] = (),
) -> DataFrame:
    """One-shuffle, persisted, collision-audited dictionary.

    :func:`build_dict` + :func:`audit_collisions` pay a term-distinct
    shuffle, then an id-groupBy shuffle, and every decode join recomputes
    the whole plan again. This variant does ONE ``groupBy(id)`` over the
    exploded terms with min/max(term) aggregates — fully map-side
    combinable, so shuffle bytes are ~distinct terms — and a collision is
    exactly ``min(term) != max(term)`` within an id group, so the audit is
    a filter-count over the SAME aggregation. The result persists
    (MEMORY_AND_DISK), so the audit's materialization is what every decode
    join reads: total one wide shuffle for dictionary + audit + decode,
    instead of three.
    """
    dict_df, audit_fn = build_dict_deferred(spark, facts, extra_terms)
    audit_fn()
    return dict_df


def audit_collisions(dict_df: DataFrame, raise_on_collision: bool = True) -> int:
    """Count id collisions (distinct terms sharing an id). 0 is the invariant."""
    n = (
        dict_df.groupBy("id")
        .agg(F.countDistinct("term").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if n and raise_on_collision:
        raise DictionaryCollision(f"{n} colliding ids in term dictionary")
    return int(n)


def hash_terms(spark: SparkSession, terms: Iterable[str]) -> Mapping[str, tuple]:
    """Driver-side map term -> (h, l) id tuple, computed by one tiny Spark
    job (Spark's xxhash64 is the source of truth; there is no public Python
    reimplementation guaranteed to match it).

    Used to lower rule constants into the encoded value space (rule tables
    are small by construction, so collecting is safe).
    """
    terms = list(dict.fromkeys(terms))
    if not terms:
        return {}
    # literal select over range(1): one task, no parallelize/shuffle — a
    # createDataFrame + collect here cost ~1 s of task scheduling for a
    # handful of rule constants
    pairs = F.array(
        *[
            F.struct(F.lit(t).alias("term"), term_id(F.lit(t)).alias("id"))
            for t in terms
        ]
    )
    rows = (
        spark.range(1)
        .select(F.explode(pairs).alias("kv"))
        .select("kv.term", "kv.id")
        .collect()
    )
    return {r["term"]: tuple(r["id"]) for r in rows}


def decode_quads(enc: DataFrame, dict_df: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """(s,p,o,g) id columns -> term columns via four dictionary joins.

    The dictionary side is broadcast when small (left to AQE); at scale these
    are plain shuffle joins on the id struct.
    """
    out = enc
    for c in SPOG:
        d = dict_df.select(
            F.col("id").alias(f"__id_{c}"), F.col("term").alias(f"__term_{c}")
        )
        out = out.join(d, out[c] == d[f"__id_{c}"], "left")
    keep = [F.col(f"__term_{c}").alias(c) for c in SPOG]
    if extra_cols:
        keep += [F.col(c) for c in extra_cols]
    return out.select(*keep)
