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

Standalone: the engine never calls this module. rify needs its Translator
because its engine only joins ``usize`` ids; Spark joins strings natively,
so the fixpoint seeds, joins and derives on the string terms. Measured at
4 cores (NOTES.md "String terms by default"), the ids bought nothing on
any corpus — a 30,000-node tree closure, a 300,000-node tree (median
52.9 s encoded, 51.9 s on strings) and a 100,000-node tree of
160-character IRIs (16.9 s encoded, 14.9 s on strings) — so the engine's
id path was deleted. What remains is the ``Translator`` analogue behind
the o2/o3 gates (o1 is the dense-rank variant, ops/quads.py) and
perfbench's dictionary layer.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import DictionaryCollision

SPOG = ["s", "p", "o", "g"]

# value type of an encoded term
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
