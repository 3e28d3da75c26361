"""Smart transitive closure: unique-decomposition doubling.

The transitive closure of an edge predicate B, written as the copy rule
H <- B plus either recursion

    linear:     H(x, z) <- B(x, y), H(y, z)    (or H(x, y), B(y, z))
    nonlinear:  H(x, z) <- H(x, y), H(y, z)

runs on the generic semi-naive loop in O(depth) rounds (linear: one edge
per round) or O(log depth) rounds (nonlinear) — but the nonlinear rule
re-derives every pair once per split point, O(paths x length) join
output, measured 114 s on the LAST iteration alone of a 1024-link chain
(vs ~1 s for the early ones). The classic fix (smart TC, Ioannidis 1986;
Valduriez & Boral's delta-wavefront variant) gives every derivation a
UNIQUE binary decomposition:

    round 1:  R <- C0             # copy-image of the edges; H-facts already
                                  # among the premises are in the store
              D <- B              # paths of length exactly 2^0 (NOT squared
                                  # yet — round 2 must consume exponent 1)
    round i = 2, 3, ...:
        R <- R ∪ (D ∘ R)          # D = B^(2^(i-2)); R = B^(<2^(i-2)) ∘ C0,
                                  # so round i adds exponents
                                  # [2^(i-2), 2^(i-1)-1], each k = 2^(i-2)+r
                                  # with exactly one (D, R) split
        D <- D ∘ D                # B^(2^(i-1)), deduplicated

so total join output is O(|closure|) for acyclic inputs (each pair produced
once per distinct path length, once total on chains/trees) while the round
count stays O(log depth). Termination: when a round adds nothing, D ∘ R ⊆ R,
hence D^m ∘ R ⊆ R for all m by induction, and any B^k ∘ C0 (k >= 2^(i-2))
factors as D^q ∘ (B^r ∘ C0) with r < 2^(i-2) and B^r ∘ C0 already ⊆ R — so
the fixpoint is complete even though D itself may keep cycling on cyclic
graphs; we stop at the first empty round (or when D itself empties).

Engaged by :func:`rify_spark.infer.fixpoint` only for a program that
:func:`detect_tc` recognizes — exactly the copy rule plus one linear or
nonlinear recursion over it, with variable graph slots — and only in
batch mode (no lineage, goals or live store; checkpoint/resume is
supported). Every other program, including a TC pair with extra rules or
a constant graph slot, runs the user's own rules on the generic loop.
No rule is ever modified; the derived fact set is identical to
semi-naive evaluation of the user's program, only the derivation
schedule differs.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .matcher import term_lit
from .session import floor_regime, scoped_conf, shuffle_width

PAIR = ["s", "o", "g"]


def _shared_g_var(atoms: list, chain_vars: tuple) -> bool:
    """True iff every atom's g slot is one variable outside ``chain_vars``
    (per-graph semantics: a path never leaves its graph)."""
    g = atoms[0][3]
    return g[0] == "v" and g not in chain_vars and all(a[3] == g for a in atoms)


def _copy_shape(rule):
    """``H(u,v,g) <- B(u,v,g)`` with constant predicates ``B != H``:
    return ``(H, B)``, else None."""
    if len(rule.body) != 1 or len(rule.head) != 1:
        return None
    (bs, bp, bo, _), (hs, hp, ho, _) = rule.body[0], rule.head[0]
    if bp[0] != "c" or hp[0] != "c" or bp[1] == hp[1]:
        return None
    if bs[0] != "v" or bo[0] != "v" or bs == bo or (hs, ho) != (bs, bo):
        return None
    if not _shared_g_var([*rule.body, *rule.head], (bs, bo)):
        return None
    return hp[1], bp[1]


def _chain_shape(rule):
    """``H(x,z,g) <- L(x,y,g), R(y,z,g)`` (either body order) with constant
    predicates and distinct variables x, y, z: return ``(H, L, R)``, else
    None."""
    if len(rule.body) != 2 or len(rule.head) != 1:
        return None
    hs, hp, ho, _ = rule.head[0]
    if hp[0] != "c":
        return None
    for left, right in (rule.body, rule.body[::-1]):
        (x, lp, y, _), (y2, rp, z, _) = left, right
        xyz = (x, y, z)
        if (
            y == y2
            and (hs, ho) == (x, z)
            and all(k == "v" for k, _ in xyz)
            and len(set(xyz)) == 3
            and lp[0] == "c"
            and rp[0] == "c"
            and _shared_g_var([*rule.body, *rule.head], xyz)
        ):
            return hp[1], lp[1], rp[1]
    return None


def detect_tc(lrules: list):
    """The transitive-closure record of a lowered program, or None.

    Only the exact two-rule program — the copy rule ``H <- B`` plus the
    linear ``H <- B∘H`` / ``H <- H∘B`` or the nonlinear ``H <- H∘H``
    recursion, all with one variable graph slot per rule — is detected:
    any other rule could read H-facts mid-fixpoint or derive anything
    else. Returns ``{"predicate": H, "edge_predicate": B, "direction":
    "prepend" | "append", "shape": "linear" | "nonlinear"}``; prepend
    (edge atom on the left, and the nonlinear shape) closes H = B* ∘ C0,
    append H = C0 ∘ B*."""
    if len(lrules) != 2:
        return None
    for copy_rule, rec_rule in (lrules, lrules[::-1]):
        copy, chain = _copy_shape(copy_rule), _chain_shape(rec_rule)
        if copy is None or chain is None or chain[0] != copy[0]:
            continue
        h, b = copy
        shapes = {
            (h, h): ("prepend", "nonlinear"),
            (b, h): ("prepend", "linear"),
            (h, b): ("append", "linear"),
        }
        found = shapes.get(chain[1:])
        if found is not None:
            return {
                "predicate": h,
                "edge_predicate": b,
                "direction": found[0],
                "shape": found[1],
            }
    return None


def _tc_fingerprint(rec: dict) -> str:
    """Checkpoint identity of a smart-TC job: strategy + the detected pair.
    The ``smart_tc;`` prefix guarantees a generic-loop checkpoint directory
    (fingerprinted by infer.job_fingerprint over the lowered rules) is
    refused on resume and vice versa — the two strategies persist different
    state (smart TC needs the D wavefront; the generic loop needs F_old).
    ``dtype=string`` keeps the identity of checkpoints written while the
    engine had a second (hash-id) value type."""
    h = hashlib.sha256()
    h.update(
        (
            f"smart_tc;dtype=string;p={rec['predicate']!r};"
            f"b={rec['edge_predicate']!r};dir={rec['direction']};"
            f"shape={rec['shape']}"
        ).encode()
    )
    return "smart_tc:" + h.hexdigest()[:32]


def _compose(left: DataFrame, right: DataFrame) -> DataFrame:
    """Relational composition of (s, o, g) path sets within each graph:
    {(x, z, g) | (x, y, g) ∈ left, (y, z, g) ∈ right}."""
    lt = left.select(F.col("s"), F.col("o").alias("__mid"), F.col("g"))
    rt = right.select(F.col("s").alias("__mid"), F.col("o"), F.col("g"))
    return lt.join(rt, ["__mid", "g"]).select("s", "o", "g")


def smart_tc_fixpoint(
    spark: SparkSession,
    facts0: DataFrame,
    rec: dict,
    cfg,
    track_deltas: bool = False,
):
    """Evaluate the :func:`detect_tc` program ``rec`` over ``facts0`` (already
    deduplicated, value-space quads). Returns a FixpointResult whose
    ``facts`` equal the program's least fixpoint: premises ∪ copy-image ∪
    all B-path compositions, per graph."""
    from .checkpoint import CheckpointManager
    from .infer import FactStore, FixpointResult

    dtype = facts0.schema["p"].dataType
    p_lit = term_lit(rec["predicate"], dtype)
    b_lit = term_lit(rec["edge_predicate"], dtype)
    prepend = rec["direction"] == "prepend"

    store = FactStore(spark, compact_every=cfg.store_compact_every)
    try:
        ckpt = (
            CheckpointManager(
                spark,
                cfg.checkpoint_dir,
                fingerprint=_tc_fingerprint(rec),
                every=cfg.store_compact_every,
                retain_history=cfg.checkpoint_retain_history,
            )
            if cfg.checkpoint_dir
            else None
        )
        metrics: list = []
        tracked_deltas: list = []  # post-seed novel blocks == derived facts

        resumed = None
        if ckpt and cfg.resume:
            resumed = ckpt.latest()
        if resumed is not None:
            # smart-TC resume state is simpler than the generic loop's: the
            # composition reads the WHOLE R each round (no F_old split), so
            # store + post-squaring D + round number fully determine the run
            it, facts_df, _delta_df, _args, meta = resumed
            seed_lc, facts_rows = store.seed(
                facts_df, rows_hint=meta.get("facts_rows")
            )
            # bare parquet read, same as the in-loop re-point: stable one-node
            # plan, no localCheckpoint copy of the wavefront into executor
            # storage
            d = spark.read.parquet(ckpt.extra_path(it, "d.parquet"))
            d_rows = meta["d_rows"] if "d_rows" in meta else d.count()
            metrics.append(
                {
                    "iteration": it,
                    "resumed": True,
                    "strategy": "smart_tc",
                    "delta_rows": meta.get("delta_rows"),
                }
            )
        else:
            seed_lc, facts_rows = store.seed(facts0)
            it = 0

            # D = the base relation, length exactly 1. Linear shape: the B
            # edges (LFP = B* ∘ C0, and only B ever extends a path). Nonlinear
            # shape (H <- B copy; H <- H∘H): LFP = (C ∪ H0)+, so the wavefront
            # seeds from the B-image ∪ premise H-facts — deduplicated as pairs,
            # since the same (s,o,g) can occur under both predicates.
            if rec["shape"] == "nonlinear":
                d = (
                    seed_lc.filter((F.col("p") == b_lit) | (F.col("p") == p_lit))
                    .select(*PAIR)
                    .dropDuplicates(PAIR)
                )
            else:
                # facts0 is SPOG-unique, so (s,o,g) under the single predicate
                # B is already duplicate-free
                d = seed_lc.filter(F.col("p") == b_lit).select(*PAIR)
            d = d.localCheckpoint(eager=False)
            # D materializes lazily inside round 1's block-count job (the copy
            # round consumes it) — no dedicated count barrier; d_rows stays
            # unknown (None) until a checkpointing run needs it for meta
            d_rows = None

        # Same conf regime as the generic loop (infer.fixpoint): constraint
        # propagation off for the whole run (quad columns are non-null by
        # construction; every join is an inner equi-join), codegen/AQE/width
        # per round via floor_regime (profiled ~1-1.5 s/round of the sf0.1
        # ancestry closure's ~1.2 s/round wall is that floor). All are
        # plan-cost knobs read at compile time; results are unaffected.
        with scoped_conf(spark) as set_conf:
            set_conf("spark.sql.constraintPropagation.enabled", False)
            session_width = shuffle_width(spark)
            while cfg.max_iterations is None or it < cfg.max_iterations:
                it += 1
                t0 = time.time()
                # the round's data volume: the compose scans the whole R plus
                # the D wavefront, so key the regime to the larger of the two;
                # with a lazy (uncounted) wavefront, facts_rows alone decides —
                # it already dominates every prior delta
                floor_regime(set_conf, max(facts_rows, d_rows or 0), session_width)
                if it == 1:
                    # round 1 = the copy rule: seed the H relation with the edge
                    # image. H-facts already among the premises are in the store.
                    cand = d
                else:
                    r = store.union().filter(F.col("p") == p_lit).select(*PAIR)
                    cand = _compose(d, r) if prepend else _compose(r, d)
                novel = store.novel(
                    cand.select(F.col("s"), p_lit.alias("p"), F.col("o"), F.col("g"))
                )
                delta_rows, _ = store.append(novel)
                if delta_rows == 0:
                    metrics.append(
                        {
                            "iteration": it,
                            "delta_rows": 0,
                            "strategy": "smart_tc",
                            "wall_s": round(time.time() - t0, 4),
                        }
                    )
                    if it == 1:
                        # an empty ROUND 1 only means the copy image is subsumed by
                        # premise H-facts (e.g. the program seeded entirely from H0)
                        # — no composition has run yet, so nothing is proven closed;
                        # the termination theorem (D∘R ⊆ R ⇒ D^m∘R ⊆ R) applies only
                        # to rounds that composed. Fall through to round 2.
                        continue
                    break
                if track_deltas:
                    tracked_deltas.append(novel)
                facts_rows += delta_rows

                # square the wavefront for the next round — but NOT after the copy
                # round, which never consumed D: round 2 must compose with D = B^1
                # (else exponent 1 — and with it every even total length — is
                # skipped). Round i >= 2 consumes D = B^(2^(i-2)) and squares it,
                # so round i adds exponents [2^(i-2), 2^(i-1)-1], each with a
                # unique (D, R) split. Stop early if D empties (no path of the
                # next power length exists).
                if it >= 2:
                    d = (
                        _compose(d, d)
                        .repartition(store.partitions, "s")
                        .dropDuplicates(PAIR)
                        .localCheckpoint(eager=False)
                    )
                    # LAZY: the squared wavefront materializes inside the next
                    # round's block-count job (its compose reads it) — removing
                    # the dedicated count saved one driver barrier per round.
                    # Termination still holds: an empty D makes the next
                    # round's candidate set empty, so delta_rows==0 breaks one
                    # (cheap, empty-compose) round later. Checkpoint mode keeps
                    # an exact count below (parquet-footer read) for meta.
                    d_rows = None
                metrics.append(
                    {
                        "iteration": it,
                        "delta_rows": delta_rows,
                        "facts_rows": facts_rows,
                        "d_rows": d_rows,
                        "strategy": "smart_tc",
                        "store_blocks": len(store.blocks),
                        "store_partitions": store.partitions,
                        "compacted": store.just_compacted,
                        "wall_s": round(time.time() - t0, 4),
                    }
                )
                if ckpt:
                    # persisted AFTER the squaring so the saved D is exactly the
                    # wavefront round it+1 consumes (round 1 never squares, so its
                    # saved D = B^1, what round 2 needs). d.parquet lands before
                    # save_iteration — meta.json stays the commit marker.
                    d.write.mode("overwrite").parquet(ckpt.extra_path(it, "d.parquet"))
                    # re-point D at the parquet just written: bounds the D lineage
                    # plan (localCheckpoint chains of compose∘compose) and drops
                    # any dependency a resumed run carried on soon-pruned files
                    d = spark.read.parquet(ckpt.extra_path(it, "d.parquet"))
                    if d_rows is None:
                        d_rows = d.count()  # footer-count of the parquet just written
                        metrics[-1]["d_rows"] = d_rows
                    ckpt.save_iteration(
                        it,
                        novel,
                        store.union(),
                        extra_meta={
                            "facts_rows": facts_rows,
                            "delta_rows": delta_rows,
                            "d_rows": d_rows,
                            "strategy": "smart_tc",
                        },
                    )
                if d_rows is not None and d_rows == 0:
                    break

        return FixpointResult(
            facts=store.union(),
            arguments=None,
            metrics=metrics,
            iterations=it,
            facts_rows=facts_rows,
            delta_dfs=tracked_deltas,
            resumed=resumed is not None,
            store=store,
        )
    except BaseException:
        # the failed run's store must not stay persisted
        store.release()
        raise
