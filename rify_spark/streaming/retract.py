"""Retraction for the incremental reasoner: DRed (delete / re-derive).

The reference engine is insert-only (``Reasoner::insert``, src/reasoner.rs —
there is no delete anywhere in its API), but a KG under construction must
also *unlearn*: upstream documents get corrected, extractions get recalled,
CDC streams carry deletes. This module adds the classic DRed algorithm
(Gupta/Mumick/Subrahmanian, "Maintaining views incrementally", SIGMOD'93)
over the existing FactStore + matcher machinery:

1. **Over-delete**: semi-naive *forward* propagation of the retracted
   premises through the rules against the pre-deletion store — every fact
   whose some derivation used a deleted fact lands in the cone ``D``
   (a superset of what must go).
2. **Subtract** ``D`` from the store: ``FactStore.rebuild`` over
   :func:`subtract_plan`.
3. **Re-derive**: a ``D``-member with an alternative derivation from the
   surviving facts comes back. This step is *goal-directed*: each rule
   head is unified against ``D`` first (``D`` is small — broadcast), so
   every body probe is a broadcast-keyed scan of the store, never a rule
   re-evaluation over the full store. The probes are the forward
   matcher's own join chains (``matcher.bindings``), seeded with ``D``.
   Iterated to closure (a re-added fact can support further re-additions);
   every round matches the still-missing cone against store ∪ re-added.

Cost model (the 100-TB contract): steps 1 and 3 are O(cone) join work plus
O(store/cores) *scan* terms (body atoms probe the store's cached blocks in
place with pushed constant-slot filters — the same per-batch scan floor the
insert path pays, see STREAM_SCAN_CONTROL.json); step 2 is one O(store)
re-block exchange per retraction batch (retractions are rare events; the
store fold is the price of keeping the block invariants — co-partitioned,
checkpoint-backed — that make every *insert* batch cheap).

Correctness notes:
  * premises are first-class: a retracted quad that is *also* still
    asserted by a surviving premise is re-seeded by the caller
    (IncrementalReasoner tracks the premise set durably);
  * unconditional-rule heads are never deletable (they hold in the empty
    store) — the caller re-seeds ``uncond ∩ D`` the same way;
  * re-derivation only ever re-admits members of ``D``: anything derivable
    from the surviving store was derivable before, hence was either in
    ``D`` (removed, comes back) or never removed.
"""

from __future__ import annotations

import dataclasses
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..infer import SPOG, FactStore, _union_all
from ..matcher import bindings, project_heads

# above this cone size the per-block broadcast joins would OOM the driver;
# the subtract falls back to a shuffle anti and re-derivation to shuffle
# joins (Catalyst/AQE pick sides) — same semantics, cluster-shaped plans
BROADCAST_MAX_ROWS = 1_000_000


def _maybe_broadcast(df: DataFrame, rows: int) -> DataFrame:
    return F.broadcast(df) if rows <= BROADCAST_MAX_ROWS else df


def overdelete(
    spark: SparkSession,
    facts_pre: DataFrame,
    lrules: list,
    retracted: DataFrame,
    max_rounds: Optional[int] = None,
    rows: Optional[int] = None,
) -> tuple:
    """The deletion cone: all facts some derivation of which used a
    retracted fact, transitively — computed by the SAME delta-restricted
    seed plans the insert fixpoint uses (matcher.bindings with delta at
    each body position), propagated over the PRE-deletion store.

    Heads of a satisfied body are in the store by induction (the body was
    satisfied pre-deletion, so its head was derived), so no store
    membership join is needed; the anti against the accumulated cone is
    what terminates the loop (D ⊆ store is finite and grows monotonically).

    Returns (cone DataFrame, cone rows, rounds) — the cone is a union of
    eager localCheckpoints, so consumers never replay the propagation.
    """
    dtype = facts_pre.schema["s"].dataType
    cond = [r for r in lrules if not r.unconditional]
    blocks = [retracted]
    # callers that already counted the (checkpointed) retraction set pass
    # `rows` and save one Spark job per retraction batch
    rows = [retracted.count() if rows is None else rows]
    delta, delta_rows = retracted, rows[0]
    rounds = 0
    while delta_rows > 0 and cond:
        if max_rounds is not None and rounds >= max_rounds:
            raise RuntimeError(f"overdelete did not close in {max_rounds} rounds")
        rounds += 1
        delta_src = _maybe_broadcast(delta, delta_rows)
        plans = []
        for r in cond:
            for i in range(len(r.body)):
                b = bindings(facts_pre, r, delta=delta_src, seed_pos=i)
                plans.append(project_heads(b, r, dtype))
        cand = _union_all(plans).dropDuplicates(SPOG)
        for db, dbn in zip(blocks, rows):
            cand = cand.join(_maybe_broadcast(db, dbn), SPOG, "left_anti")
        new = cand.localCheckpoint(eager=True)
        delta_rows = new.count()
        if delta_rows:
            blocks.append(new)
            rows.append(delta_rows)
            delta = new
    return _union_all(blocks), sum(rows), rounds


def _rederive_rule(facts: DataFrame, lrule, D: DataFrame, dtype) -> list:
    """D-members of ``lrule``'s heads derivable from ``facts`` — one plan
    per head atom, each the forward matcher's join chain for the goal rule
    ``atom ∧ body → atom`` seeded at position 0 with ``D``.

    Goal-direction: the chain STARTS from the head atom unified against
    ``D`` (broadcast — O(cone) rows), so each body atom is probed with the
    head's variable bindings already pinned; a fully-constant head is the
    matcher's 0/1-row existence gate. Every emitted quad is a ``D`` row:
    the head projection rebuilds exactly the row its bindings came from."""
    plans = []
    for atom in lrule.head:
        goal = dataclasses.replace(lrule, body=[atom, *lrule.body], head=[atom])
        # the caller size-gates the broadcast hint on D itself
        # (_maybe_broadcast); it rides through the seed atom's projection
        b = bindings(facts, goal, delta=D, seed_pos=0)
        plans.append(project_heads(b, goal, dtype))
    return plans


def rederive(
    spark: SparkSession,
    store: FactStore,
    lrules: list,
    cone: DataFrame,
    cone_rows: int,
    reseed: DataFrame,
    dtype,
    max_rounds: Optional[int] = None,
) -> tuple:
    """DRed step 3: members of the (already subtracted) cone that survive.

    ``reseed`` — cone members that are facts by fiat (surviving premises,
    unconditional heads) — seeds the re-added set; each round then finds
    the still-missing cone members with a derivation entirely inside
    (store ∪ re-added so far). No delta restriction is needed: a member
    derivable without the previous round's additions was already re-added
    in that round, so a round's plan per head atom returns exactly the
    members the new additions unlock. Returns (readded union DataFrame,
    readded rows, rounds); both the per-round blocks and the remaining-cone
    frontier are eager localCheckpoints (bounded plans, no replay).
    """
    readd_parts = []
    readd_rows = 0
    d_rem = cone
    d_rem_rows = cone_rows
    r0 = reseed.localCheckpoint(eager=True)
    n0 = r0.count()
    if n0:
        readd_parts.append(r0)
        readd_rows += n0
        d_rem = d_rem.join(_maybe_broadcast(r0, n0), SPOG, "left_anti").localCheckpoint(
            eager=True
        )
        d_rem_rows = d_rem.count()
    cond = [r for r in lrules if not r.unconditional]
    rounds = 0
    while d_rem_rows > 0 and cond:
        if max_rounds is not None and rounds >= max_rounds:
            raise RuntimeError(f"rederive did not close in {max_rounds} rounds")
        rounds += 1
        facts = _union_all([store.union()] + readd_parts)
        d_b = _maybe_broadcast(d_rem, d_rem_rows)
        plans = [p for r in cond for p in _rederive_rule(facts, r, d_b, dtype)]
        if not plans:
            break
        new = _union_all(plans).dropDuplicates(SPOG).localCheckpoint(eager=True)
        n = new.count()
        if n == 0:
            break
        readd_parts.append(new)
        readd_rows += n
        d_rem = d_rem.join(_maybe_broadcast(new, n), SPOG, "left_anti").localCheckpoint(
            eager=True
        )
        d_rem_rows = d_rem.count()
    readded = _union_all(readd_parts) if readd_parts else cone.limit(0)
    return readded, readd_rows, rounds


def subtract_plan(store: FactStore, cone: DataFrame, cone_rows: int) -> DataFrame:
    """DRed step 2 as an UNEXECUTED plan for ``FactStore.rebuild``: the
    cached block chain anti-joined against the (broadcast-when-small) cone.
    The rebuild folds it into one block at the store's existing width, one
    O(store) job — the price of re-establishing the block invariants every
    insert batch relies on. The plan is auditable before execution
    (scripts/explain_audit.py): the store side must read its cached
    s-partitioned blocks with no Exchange; the cone side broadcasts below
    BROADCAST_MAX_ROWS, else exchanges once to the store's width."""
    anti_side = (
        F.broadcast(cone)
        if cone_rows <= BROADCAST_MAX_ROWS
        else cone.repartition(store.partitions, "s")
    )
    return store.union().join(anti_side, SPOG, "left_anti")
