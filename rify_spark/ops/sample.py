"""Deterministic stratified sampling for corpus balancing.

A training corpus over-represents some strata (language, source); the
standard fix is per-stratum downsampling. ``DataFrame.sample``/``F.rand``
are not reproducible across runs or engines, so the keep decision here is
a pure hash threshold: keep a doc iff

    h28(lang || ':' || doc_id)  <  floor(rate(lang) * 2^28)

with the same md5-prefix arithmetic the dedup operators use (exactly
replicable in the DuckDB oracle). Properties that matter at 100 TB:

  * a NARROW filter — no shuffle, no counting pass, pushes to the scan;
  * stable under repartitioning, re-runs, and engine swaps (no RNG state);
  * per-stratum rates are independent: changing one language's rate does
    not reshuffle which docs of another language are kept;
  * thresholds are integer literals computed driver-side (never
    float-compared executor-side — Spark truncates double->long casts
    while DuckDB rounds, so a float threshold would diverge).
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_width
from .dedup import _H28_SPARK, _H28_SQL

H28_MAX = 1 << 28
# default policy: downsample the over-represented stratum (the synthetic
# corpus is ~44% 'en'); everything else kept in full
DEFAULT_RATES: dict = {"en": 0.33}


def _thresholds(rates: Optional[Mapping[str, float]], default_rate: float):
    rates = DEFAULT_RATES if rates is None else dict(rates)
    return (
        {lang: int(r * H28_MAX) for lang, r in sorted(rates.items())},
        int(default_rate * H28_MAX),
    )


def docs_sample_stratified(
    docs: DataFrame,
    rates: Optional[Mapping[str, float]] = None,
    default_rate: float = 1.0,
) -> DataFrame:
    """(doc_id, lang) of documents kept by per-language hash sampling."""
    thr, dflt = _thresholds(rates, default_rate)
    h = _H28_SPARK(F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string")))
    cutoff = F.lit(dflt)
    for lang, t in thr.items():
        cutoff = F.when(F.col("lang") == lang, F.lit(t)).otherwise(cutoff)
    return docs.filter(h < cutoff).select("doc_id", "lang")


def docs_sample_stratified_sql(
    table: str = "documents",
    rates: Optional[Mapping[str, float]] = None,
    default_rate: float = 1.0,
) -> str:
    thr, dflt = _thresholds(rates, default_rate)
    h = _H28_SQL.format(c="(lang || ':' || CAST(doc_id AS VARCHAR))")
    whens = " ".join(f"WHEN '{lang}' THEN {t}" for lang, t in thr.items())
    return f"""
    SELECT doc_id, lang FROM {table}
    WHERE {h} < CASE lang {whens} ELSE {dflt} END
    """


# --- deterministic global shuffle -------------------------------------------

SHUFFLE_SEED_DEFAULT = "epoch0"


def docs_shuffle_rank(
    docs: DataFrame, seed: str = SHUFFLE_SEED_DEFAULT
) -> DataFrame:
    """(doc_id, shuffle_rank): a reproducible global permutation of the
    corpus — the training-data shuffle, as a deterministic rank instead
    of an RNG state.

    The order key is ``md5(seed || ':' || doc_id)``: changing the seed
    (e.g. per epoch) re-permutes everything; the same seed reproduces
    the same order on any engine, partitioning, or run — the property
    ``DataFrame.orderBy(rand())`` cannot give. Ties are impossible (the
    key embeds the unique doc_id), so the permutation is total.

    A bare ``row_number().over(Window.orderBy(key))`` would move the
    whole corpus to ONE partition — the classic global-rank trap — so
    the rank is computed with the distributed two-pass scheme instead:

      1. project the NARROW key relation (doc_id, md5 key) — the
         payload never moves; callers join the rank back by doc_id;
      2. range-partition by (key, doc_id) and sort within partitions on
         the same pair — the doc_id tie-break makes the order total
         even under (astronomically unlikely) md5 collisions, so ranks
         never depend on task execution order;
      3. count each partition (one map-side-combined exchange of
         O(width) rows) and broadcast-join the cumulative offsets back;
      4. the intra-partition index costs NO further exchange:
         ``monotonically_increasing_id`` is (partition id << 33) +
         row-index-within-partition by its documented layout, so
         ``mid - (pid << 33)`` read above the in-partition sort IS the
         sorted row index (bounded: < 2^33 rows per partition).

    The result is independent of where the sampled range boundaries
    land (contiguous ranges + offsets reproduce the one global order).
    NULL doc_ids are dropped up front (a NULL key would sort
    differently across engines and tie with every other NULL). For
    sharded training output, callers usually skip the explicit rank
    and just ``orderBy(key).write...``; the rank form exists so the
    permutation is itself a checkable, hash-exact artifact.
    """
    spark = docs.sparkSession
    width = shuffle_width(spark)
    key = F.md5(
        F.concat(
            F.lit(seed), F.lit(":"), F.col("doc_id").cast("string")
        ).cast("binary")
    )
    ranged = (
        docs.select("doc_id", key.alias("_k"))
        .filter(F.col("doc_id").isNotNull())
        .repartitionByRange(width, "_k", "doc_id")
        .sortWithinPartitions("_k", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mid", F.monotonically_increasing_id())
        .persist()
    )
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in ranged.groupBy("_pid").agg(
            F.count("*").alias("cnt")
        ).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid int, _base long")
    )
    out = (
        ranged.join(off, "_pid")
        .select(
            "doc_id",
            (
                F.col("_base")
                + (
                    F.col("_mid")
                    - F.shiftleft(F.col("_pid").cast("long"), 33)
                )
                + F.lit(1)
            ).cast("long").alias("shuffle_rank"),
        )
        .localCheckpoint()
    )
    ranged.unpersist()
    return out


def docs_shuffle_rank_sql(
    table: str = "documents", seed: str = SHUFFLE_SEED_DEFAULT
) -> str:
    return f"""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY md5('{seed}' || ':' || CAST(doc_id AS VARCHAR)),
                      doc_id
           ) AS BIGINT) AS shuffle_rank
    FROM {table} WHERE doc_id IS NOT NULL
    """
