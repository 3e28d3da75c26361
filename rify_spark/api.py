"""User-facing API: ``infer``, ``prove``, ``validate`` — the reference's
three entry points (src/lib.rs:14-17) backed by the Spark fixpoint.

Front half shared by all entry points, mirroring the reference lifecycle
(translate -> lower -> reason -> translate back):

  1. term codec: arbitrary orderable Python terms -> strings (the reference
     is generic over ``Bound: Ord``; our Spark engine requires strings, so
     non-string terms are mapped through a driver-side bijection — only
     meaningful for list-sized inputs, which is the only place non-string
     terms can occur);
  2. no id translation: the engine seeds, joins and derives on the strings
     themselves. Spark joins them natively, which is why rify's
     ``Translator`` (src/translator.rs:14-40) has no counterpart here;
  3. rule lowering (rules.py: lower_rule);
  4. fixpoint (infer.py / prove.py);
  5. decode back through the codec.

DataFrame-level entry points (``infer_df``) skip steps 1 and 5 and are what
the KG-construction pipeline uses.
"""

from __future__ import annotations

import itertools
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from .errors import ExhaustedSearchSpace, NovelName
from .infer import (
    QUAD_SCHEMA,
    SPOG,
    FixpointResult,
    InferConfig,
    derived_facts,
    fixpoint,
    seed_facts,
)
from .prove import (
    collect_reachable_arguments,
    prove_fixpoint,
    recall_proof,
)
from .rules import Rule, RuleApplication, freeze_term, lower_rule, thaw_term
from .validate import Valid, valid_to_dfs, validate  # re-export  # noqa: F401

_NONSTR_PREFIX = "\x00t"


class TermCodec:
    """Bijection between user terms and engine strings.

    Identity when every term is already a string (the common case and the
    only scale-relevant one). Otherwise each distinct term gets a reserved
    surrogate string in first-appearance order.
    """

    def __init__(self, terms: Iterable) -> None:
        terms = list(terms)
        self.identity = all(isinstance(t, str) for t in terms)
        if self.identity:
            for t in terms:
                if t.startswith(_NONSTR_PREFIX):
                    raise ValueError("terms may not start with the reserved codec prefix")
            return
        self._fwd: dict = {}
        self._back: dict = {}
        for t in terms:
            if t not in self._fwd:
                key = f"{_NONSTR_PREFIX}{len(self._fwd)}"
                self._fwd[t] = key
                self._back[key] = t

    def encode(self, term):
        return term if self.identity else self._fwd[term]

    def decode(self, s):
        return s if self.identity else self._back[s]


def _all_terms(premises: Sequence, rules: Sequence[Rule], extra: Sequence = ()):
    return itertools.chain(
        (x for q in premises for x in q),
        (t for r in rules for t in r.bound_terms()),
        (x for q in extra for x in q),
    )


def _check_quads(quads: Sequence) -> list:
    out = []
    for q in quads:
        q = tuple(freeze_term(x) for x in q)
        if len(q) != 4:
            raise ValueError(f"facts are quads; got {len(q)} elements")
        out.append(q)
    return out


def _lower_inputs(
    spark: SparkSession,
    premises: Sequence,
    rules: Sequence[Rule],
    codec: TermCodec,
) -> tuple[DataFrame, list]:
    """Shared front half: the premises as an engine-string DataFrame (not
    deduped) and the lowered rules."""
    prem_str = [tuple(codec.encode(x) for x in q) for q in premises]
    premises_df = spark.createDataFrame(prem_str, QUAD_SCHEMA)
    lrules = [lower_rule(r, i, codec.encode) for i, r in enumerate(rules)]
    return premises_df, lrules


def infer(
    spark: SparkSession,
    premises: Sequence,
    rules: Sequence[Rule],
    config: Optional[InferConfig] = None,
) -> list:
    """All derivable quads not among the premises (src/infer.rs:9-26).

    Returns a sorted list of 4-tuples. The reference returns insertion
    order; its own tests sort before comparing (src/infer.rs:148-153), and
    set semantics is the honest contract for a distributed engine.
    """
    cfg = config or InferConfig()
    premises = _check_quads(premises)
    codec = TermCodec(_all_terms(premises, rules))
    premises_df, lrules = _lower_inputs(spark, premises, rules, codec)

    facts0 = seed_facts(spark, premises_df, lrules)
    res = fixpoint(spark, facts0, lrules, cfg, track_deltas=True)
    try:
        derived = derived_facts(
            spark, res, premises_df.dropDuplicates(SPOG), lrules
        )
        rows = sorted(tuple(r) for r in derived.collect())
    finally:
        res.release()
    # thaw so structured terms round-trip to their original JSON shapes
    return [tuple(thaw_term(codec.decode(x)) for x in q) for q in rows]


def infer_df(
    spark: SparkSession,
    facts_df: DataFrame,
    rules: Sequence[Rule],
    config: Optional[InferConfig] = None,
) -> tuple[DataFrame, FixpointResult]:
    """DataFrame-level infer over string-term quads (columns s,p,o,g).

    Returns (derived_df, FixpointResult). This is the KG-pipeline entry
    point: no collect, no codec. ``derived_df`` reads the fact-store blocks
    the fixpoint persisted; call ``res.release()`` once done with it.
    """
    cfg = config or InferConfig()
    for r in rules:
        for t in r.bound_terms():
            if not isinstance(t, str):
                raise TypeError("infer_df requires string terms in rules")
    lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
    facts_in = facts_df.select(*SPOG)
    facts0 = seed_facts(spark, facts_in, lrules, assume_deduped=cfg.input_deduped)
    res = fixpoint(spark, facts0, lrules, cfg, track_deltas=True)
    prem_dedup = facts_in if cfg.input_deduped else facts_in.dropDuplicates(SPOG)
    return derived_facts(spark, res, prem_dedup, lrules), res


def prove(
    spark: SparkSession,
    premises: Sequence,
    to_prove: Sequence,
    rules: Sequence[Rule],
    config: Optional[InferConfig] = None,
) -> list:
    """Locate a proof of ``to_prove`` from ``premises`` under ``rules``
    (src/prove.rs:58-88). Returns a list of :class:`RuleApplication`.

    Raises :class:`NovelName` if a goal mentions an unknown term and
    :class:`ExhaustedSearchSpace` if no proof exists.
    """
    cfg = config or InferConfig()
    premises = _check_quads(premises)
    to_prove = _check_quads(to_prove)

    known = set(x for q in premises for x in q) | {
        t for r in rules for t in r.bound_terms()
    }
    for q in to_prove:
        for x in q:
            if x not in known:
                raise NovelName()

    codec = TermCodec(_all_terms(premises, rules, extra=to_prove))
    premises_df, lrules = _lower_inputs(spark, premises, rules, codec)

    goal_quads = [tuple(codec.encode(x) for x in q) for q in to_prove]
    goals_df = spark.createDataFrame(goal_quads, QUAD_SCHEMA)

    prem_dedup = premises_df.dropDuplicates(SPOG)
    facts0 = seed_facts(spark, premises_df, lrules)
    res = prove_fixpoint(spark, facts0, prem_dedup, goals_df, lrules, cfg)
    try:
        if goals_df.join(res.facts, SPOG, "left_anti").count() > 0:
            raise ExhaustedSearchSpace()
        args = collect_reachable_arguments(spark, res.arguments, goal_quads, lrules)
    finally:
        res.release()
    lproof = recall_proof(goal_quads, args, lrules)

    # raise: engine strings -> terms (src/common.rs:52-77)
    return [
        RuleApplication(
            app.rule_index, tuple(codec.decode(v) for v in app.instantiations)
        )
        for app in lproof
    ]
