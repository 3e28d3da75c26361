"""User-facing API: ``infer``, ``prove``, ``validate`` — the reference's
three entry points (src/lib.rs:14-17) backed by the Spark fixpoint.

Front half shared by all entry points, mirroring the reference lifecycle
(translate -> lower -> reason in id space -> translate back):

  1. term codec: arbitrary orderable Python terms -> strings (the reference
     is generic over ``Bound: Ord``; our Spark engine requires strings, so
     non-string terms are mapped through a driver-side bijection — only
     meaningful for list-sized inputs, which is the only place non-string
     terms can occur);
  2. opt-in dictionary encoding (``InferConfig(encode_terms=True)``):
     strings -> 128-bit (h, l) ids (dictionary.py). By default the engine
     seeds, joins and derives on the strings themselves — Spark joins them
     natively, which is why rify's ``Translator`` (src/translator.rs:14-40)
     has no counterpart on the default path;
  3. rule lowering (rules.py: lower_rule);
  4. fixpoint (infer.py / prove.py);
  5. decode back: the codec, and the dictionary when step 2 ran.

DataFrame-level entry points (``infer_df``) skip step 1 and the codec half
of step 5 and are what the KG-construction pipeline uses.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dictionary as D
from .errors import ExhaustedSearchSpace, NovelName
from .infer import (
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

_QUAD_STR_SCHEMA = "s string, p string, o string, g string"
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


@dataclass
class _Lowered:
    """Shared front half: encoded premise DF + lowered rules + decode state."""

    premises_df: DataFrame      # string space, not deduped
    facts_in: DataFrame         # engine value space, not deduped
    lrules: list
    dtype_str: str
    dict_df: Optional[DataFrame]
    codec: TermCodec


def _lower_inputs(
    spark: SparkSession,
    premises: Sequence,
    rules: Sequence[Rule],
    cfg: InferConfig,
    codec: TermCodec,
) -> _Lowered:
    prem_str = [tuple(codec.encode(x) for x in q) for q in premises]
    bound_strs = list(
        dict.fromkeys(codec.encode(t) for r in rules for t in r.bound_terms())
    )
    premises_df = spark.createDataFrame(prem_str, _QUAD_STR_SCHEMA)
    if cfg.encode_terms:
        const_ids = D.hash_terms(spark, bound_strs)
        facts_in = D.encode_quads(premises_df)
        dict_df = D.build_dict_audited(
            spark, premises_df if prem_str else None, bound_strs
        )
        lrules = [
            lower_rule(r, i, lambda t: const_ids[codec.encode(t)])
            for i, r in enumerate(rules)
        ]
        dtype_str = D.ID_TYPE
    else:
        facts_in = premises_df
        dict_df = None
        lrules = [lower_rule(r, i, codec.encode) for i, r in enumerate(rules)]
        dtype_str = "string"
    return _Lowered(premises_df, facts_in, lrules, dtype_str, dict_df, codec)


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
    low = _lower_inputs(spark, premises, rules, cfg, codec)

    facts0 = seed_facts(spark, low.facts_in, low.lrules, low.dtype_str)
    res = fixpoint(spark, facts0, low.lrules, cfg, track_deltas=True)
    derived = derived_facts(
        spark, res, low.facts_in.dropDuplicates(SPOG), low.lrules, low.dtype_str
    )
    if low.dict_df is not None:
        derived = D.decode_quads(derived, low.dict_df)
    rows = sorted(tuple(r) for r in derived.collect())
    # thaw so structured terms round-trip to their original JSON shapes
    return [tuple(thaw_term(codec.decode(x)) for x in q) for q in rows]


def infer_df(
    spark: SparkSession,
    facts_df: DataFrame,
    rules: Sequence[Rule],
    config: Optional[InferConfig] = None,
) -> tuple[DataFrame, FixpointResult]:
    """DataFrame-level infer over string-term quads (columns s,p,o,g).

    Returns (derived_df in string space, FixpointResult). This is the
    KG-pipeline entry point: no collect, no codec. With
    ``encode_terms=True`` the fixpoint runs on hash ids, the dictionary's
    collision audit runs in a background thread, and the derived quads are
    decoded back to strings; by default none of that runs.
    """
    cfg = config or InferConfig()
    bound_strs = list(dict.fromkeys(t for r in rules for t in r.bound_terms()))
    for t in bound_strs:
        if not isinstance(t, str):
            raise TypeError("infer_df requires string terms in rules")
    audit_thread = None
    audit_err: list = []
    if cfg.encode_terms:
        const_ids = D.hash_terms(spark, bound_strs)
        facts_in = D.encode_quads(facts_df)
        # the collision audit is a driver barrier independent of inference
        # until decode: run its job in a background thread overlapped with
        # the fixpoint iterations (Spark's scheduler handles concurrent job
        # submission; at high core counts the audit hides entirely in
        # otherwise-idle slots, at low counts it fair-shares). Joined —
        # and re-raised — before decode reads the dictionary.
        dict_df, audit_fn = D.build_dict_deferred(spark, facts_df, bound_strs)
        # InheritableThread, not threading.Thread: it propagates the py4j
        # thread-local connection / local properties and cleans up the
        # paired JVM thread on exit (a bare Thread leaks JVM threads under
        # pinned-thread mode)
        from pyspark import InheritableThread

        def _run_audit() -> None:
            try:
                audit_fn()
            except Exception as e:  # noqa: BLE001 — re-raised at join
                audit_err.append(e)

        audit_thread = InheritableThread(target=_run_audit, daemon=True)
        audit_thread.start()
        lrules = [lower_rule(r, i, lambda t: const_ids[t]) for i, r in enumerate(rules)]
        dtype_str = D.ID_TYPE
    else:
        dict_df = None
        lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
        facts_in = facts_df.select(*SPOG)
        dtype_str = "string"
    facts0 = seed_facts(
        spark, facts_in, lrules, dtype_str, assume_deduped=cfg.input_deduped
    )
    try:
        res = fixpoint(spark, facts0, lrules, cfg, track_deltas=True)
        prem_dedup = facts_in if cfg.input_deduped else facts_in.dropDuplicates(SPOG)
        derived = derived_facts(spark, res, prem_dedup, lrules, dtype_str)
    finally:
        # joined even when the fixpoint raises, so the audit thread is never
        # abandoned mid-job; a collision found while the fixpoint ALSO
        # failed must not mask the fixpoint's error, hence the re-raise
        # below is outside the finally
        if audit_thread is not None:
            audit_thread.join()
    if audit_err:
        raise audit_err[0]
    if dict_df is not None:
        derived = D.decode_quads(derived, dict_df)
    return derived, res


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
    low = _lower_inputs(spark, premises, rules, cfg, codec)

    goals_str = [tuple(codec.encode(x) for x in q) for q in to_prove]
    if cfg.encode_terms:
        gids = D.hash_terms(spark, [x for q in goals_str for x in q])
        goal_quads = [tuple(gids[x] for x in q) for q in goals_str]
        goals_df = spark.createDataFrame(
            goal_quads,
            f"s {D.ID_TYPE}, p {D.ID_TYPE}, o {D.ID_TYPE}, g {D.ID_TYPE}",
        )
    else:
        goal_quads = goals_str
        goals_df = spark.createDataFrame(goals_str, _QUAD_STR_SCHEMA)

    prem_dedup = low.facts_in.dropDuplicates(SPOG)
    facts0 = seed_facts(spark, low.facts_in, low.lrules, low.dtype_str)
    res = prove_fixpoint(
        spark, facts0, prem_dedup, goals_df, low.lrules, cfg, low.dtype_str
    )

    if goals_df.join(res.facts, SPOG, "left_anti").count() > 0:
        raise ExhaustedSearchSpace()

    args = collect_reachable_arguments(
        spark, res.arguments, goal_quads, low.lrules, low.dtype_str
    )
    lproof = recall_proof(goal_quads, args, low.lrules)

    # raise: engine values -> terms (src/common.rs:52-77)
    if low.dict_df is not None:
        ids = {tuple(v) for app in lproof for v in app.instantiations}
        if ids:
            iddf = spark.createDataFrame([(v,) for v in ids], f"id {D.ID_TYPE}")
            rows = low.dict_df.join(F.broadcast(iddf), "id", "left_semi").collect()
            back = {tuple(r["id"]): r["term"] for r in rows}
        else:
            back = {}
        return [
            RuleApplication(
                app.rule_index,
                tuple(codec.decode(back[tuple(v)]) for v in app.instantiations),
            )
            for app in lproof
        ]
    return [
        RuleApplication(
            app.rule_index, tuple(codec.decode(v) for v in app.instantiations)
        )
        for app in lproof
    ]
