"""Conjunctive pattern matcher: rule body -> DataFrame join chain.

This is the Spark-native replacement for the reference's recursive
backtracking matcher (``Reasoner::apply``, src/reasoner.rs:161-197) and its
delta-seeded variant (``Reasoner::apply_related``, src/reasoner.rs:131-155).

Where the reference enumerates variable bindings one at a time with
binary-searched permutation indexes, we declare the same relation
set-at-a-time: each body atom becomes a filtered projection of the facts
DataFrame, and shared variables become inner equi-join keys. Catalyst then
picks physical strategies (broadcast-hash vs sort-merge, AQE skew splitting)
— the analog of the reference's 6-index access-path dispatch
(src/reasoner.rs:202-227), which we deliberately do not replicate.

Semi-naive seeding: ``bindings(..., delta=Δ, seed_pos=i)`` substitutes the
delta relation at atom position i (all other atoms read the full fact set),
mirroring ``apply_related``'s "the new quad must match at least one atom"
(src/reasoner.rs:142-154). The fixpoint unions these plans over all i.

Join ordering: the reference greedily picks the atom with the fewest index
matches (``pop_strictest_requirement``, src/reasoner.rs:235-243). Ordering is
not semantics-bearing (any order yields the same binding set), so we use a
static greedy order: stay connected to already-bound variables (avoids
cartesian products), prefer more-constant atoms, optionally consult
per-predicate cardinality stats. AQE handles the rest at runtime.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rules import LoweredRule

SPOG = ["s", "p", "o", "g"]


def term_lit(val, dtype):
    """Literal column for a lowered constant in the engine value space."""
    return F.lit(val).cast(dtype)


def _atom_vars(atom) -> set:
    return {slot[1] for slot in atom if slot[0] == "v"}


def _atom_n_consts(atom) -> int:
    return sum(1 for slot in atom if slot[0] == "c")


def _atom_pred_const(atom):
    """The constant in predicate position, if any — the usual stats key."""
    return atom[1][1] if atom[1][0] == "c" else None


def order_body(
    body: Sequence,
    seed_pos: Optional[int] = None,
    stats: Optional[Mapping] = None,
) -> list:
    """Static greedy join order over body atom positions.

    Returns a permutation of range(len(body)). If ``seed_pos`` is given it
    comes first (the delta-seeded atom). Subsequent picks prefer atoms that
    share a variable with the already-bound set (no cartesian product unless
    the body is genuinely disconnected), then lowest estimated cardinality:
    per-predicate count from ``stats`` when available, else more constants
    first. Deterministic tie-break by original position.
    """
    remaining = [i for i in range(len(body))]
    order: list = []
    bound: set = set()

    def estimate(i: int):
        pred = _atom_pred_const(body[i])
        cnt = stats.get(pred) if stats and pred is not None else None
        # (has_stats?, count, -n_consts, position) — lower is better
        return (
            0 if cnt is not None else 1,
            cnt if cnt is not None else 0,
            -_atom_n_consts(body[i]),
            i,
        )

    if seed_pos is not None:
        order.append(seed_pos)
        remaining.remove(seed_pos)
        bound |= _atom_vars(body[seed_pos])

    while remaining:
        if bound:
            connected = [i for i in remaining if _atom_vars(body[i]) & bound]
            pool = connected or remaining
        else:
            pool = remaining
        pick = min(pool, key=estimate)
        order.append(pick)
        remaining.remove(pick)
        bound |= _atom_vars(body[pick])
    return order


def atom_relation(df: DataFrame, atom, tag: int) -> tuple[DataFrame, list]:
    """Filter+project one body atom against a quad DataFrame.

    Constant slots become pushdown-friendly equality filters; a variable
    repeated within the atom becomes an intra-row equality filter
    (the analog of ``can_match`` unification, src/reasoner.rs:266-274).
    Returns (relation, var slot list); the relation's columns are ``v{slot}``
    for the first occurrence of each variable. An all-constant atom returns a
    0-or-1-row existence gate with a dummy column.
    """
    dtype = df.schema["s"].dataType
    conds = []
    first: dict = {}  # var slot -> source column name
    for colname, slot in zip(SPOG, atom):
        kind, val = slot
        if kind == "c":
            conds.append(F.col(colname) == term_lit(val, dtype))
        else:
            if val in first:
                conds.append(F.col(colname) == F.col(first[val]))
            else:
                first[val] = colname
    rel = df
    for c in conds:
        rel = rel.filter(c)
    if not first:
        # existence gate: does the store contain this exact quad?
        # (membership test analog, src/reasoner.rs:98-101)
        return rel.select(F.lit(1).alias(f"__e{tag}")).limit(1), []
    sel = [F.col(cn).alias(f"v{vi}") for vi, cn in sorted(first.items())]
    return rel.select(*sel), sorted(first)


def bindings(
    facts: DataFrame,
    lrule: LoweredRule,
    delta: Optional[DataFrame] = None,
    seed_pos: Optional[int] = None,
    stats: Optional[Mapping] = None,
    facts_old: Optional[DataFrame] = None,
    hot_values: Optional[Sequence] = None,
    salt_n: int = 8,
) -> DataFrame:
    """All assignments of ``lrule``'s variables satisfying its body.

    Result columns: ``v0..v{n_vars-1}`` (canonical unbound order). With
    ``delta``/``seed_pos``, atom ``seed_pos`` reads from ``delta`` and the
    others from ``facts`` (semi-naive restriction).

    With ``facts_old`` (= facts without the current delta) the decomposition
    is non-redundant: atom positions *before* ``seed_pos`` read ``facts_old``
    and positions after read ``facts`` — so a derivation using several delta
    quads is produced by exactly one seed plan (the one whose seed is its
    first delta atom) instead of once per delta atom. Same fixpoint, strictly
    fewer candidate rows through the dedup/anti-join shuffles.

    With ``hot_values`` (driver-detected hot term ids, see
    ``infer._seed_scan``) every single-variable inner join is a
    :func:`rify_spark.skew.targeted_salted_join`: the facts-atom side is
    salted, the accumulated (delta-seeded, smaller) side's hot rows are
    exploded over ``salt_n`` salts — the explicit "skew-salted joins on hot
    predicates" path for when the delta is too large to broadcast (a
    broadcast join is skew-immune, so the fixpoint passes hot_values only
    for shuffle-joined iterations). Multiplicity is unchanged; multi-variable
    join keys are left to AQE (a composite key spreads hot single terms).

    Raises ValueError for an empty body — unconditional rules are seeded by
    the fixpoint driver, mirroring the reference's special-casing
    (src/infer.rs:36-50).
    """
    body = lrule.body
    if not body:
        raise ValueError("unconditional rule has no bindings relation")
    order = order_body(body, seed_pos=seed_pos, stats=stats)

    acc: Optional[DataFrame] = None
    acc_vars: set = set()
    dummy_cols: list = []
    for tag, pos in enumerate(order):
        if seed_pos is not None and pos == seed_pos:
            src = delta
        elif facts_old is not None and seed_pos is not None and pos < seed_pos:
            src = facts_old
        else:
            src = facts
        rel, rel_vars = atom_relation(src, body[pos], tag)
        if not rel_vars:
            dummy_cols.append(f"__e{tag}")
        if acc is None:
            acc = rel
            acc_vars = set(rel_vars)
            continue
        shared = sorted(acc_vars & set(rel_vars))
        if shared:
            keys = [f"v{v}" for v in shared]
            if hot_values and len(keys) == 1:
                from .skew import targeted_salted_join

                acc = targeted_salted_join(
                    rel, acc, keys, hot_values, n_salts=salt_n
                )
            else:
                acc = acc.join(rel, on=keys, how="inner")
        else:
            acc = acc.crossJoin(rel)
        acc_vars |= set(rel_vars)
    assert acc is not None
    if acc_vars:
        out = acc.select(*[F.col(f"v{v}") for v in sorted(acc_vars)])
    else:
        # fully-constant body: keep the 0-or-1-row gate shape
        out = acc.select(*[F.col(c) for c in dummy_cols[:1]])
    return out


def project_heads(
    binding_df: DataFrame,
    lrule: LoweredRule,
    dtype,
    extra=(),
) -> DataFrame:
    """Substitute bindings into head atoms -> candidate quad DataFrame.

    Analog of ``Quad::local_to_global`` (src/reasoner.rs:24-34): one select
    per `then` atom, unioned. ``extra`` appends literal/derived columns
    (rule_index, instantiation array) for proof lineage.
    """
    outs = []
    for atom in lrule.head:
        cols = []
        for colname, slot in zip(SPOG, atom):
            kind, val = slot
            if kind == "c":
                cols.append(term_lit(val, dtype).alias(colname))
            else:
                cols.append(F.col(f"v{val}").alias(colname))
        cols.extend(extra)
        outs.append(binding_df.select(*cols))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def lineage_cols(lrule: LoweredRule, dtype) -> list:
    """Extra columns carrying proof lineage through head projection."""
    inst = (
        F.array(*[F.col(f"v{i}") for i in range(lrule.n_vars)])
        if lrule.n_vars
        else F.array().cast(f"array<{dtype.simpleString()}>")
    )
    return [
        F.lit(lrule.index).cast("long").alias("rule_index"),
        inst.alias("inst"),
    ]
