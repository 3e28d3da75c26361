"""Retraction (DRed) tests: removing premises exactly maintains the closure.

The gold standard throughout: after any sequence of inserts and retracts,
the reasoner's fact set must equal remaining-premises ∪ infer(remaining
premises) — i.e. incremental deletion lands on the same fixpoint a from-
scratch run over the surviving premises computes. The reference engine is
insert-only (src/reasoner.rs has no delete), so these semantics are pinned
against the repo's own batch engine, not a reference test vector.
"""

import os

import pytest

from rify_spark.rules import Bound as B, Rule, Unbound as U
from rify_spark.streaming import IncrementalReasoner

DG = "dg"
SCHEMA = "s string, p string, o string, g string"


def _rules():
    return [
        Rule.create(
            [[U("a"), B("parent"), U("b"), B(DG)]],
            [[U("a"), B("anc"), U("b"), B(DG)]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), B(DG)],
                [U("b"), B("anc"), U("c"), B(DG)],
            ],
            [[U("a"), B("anc"), U("c"), B(DG)]],
        ),
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _store_set(reasoner):
    return {tuple(r) for r in reasoner.facts().collect()}


def _expected(spark, premises, rules=None):
    """remaining-premises ∪ batch-engine closure over them."""
    from rify_spark.api import infer

    rules = rules or _rules()
    if not premises:
        return set()
    return set(premises) | {tuple(q) for q in infer(spark, premises, rules)}


def _reasoner(spark, tmp_path, rules=None, name="store"):
    return IncrementalReasoner(
        spark, rules or _rules(), str(tmp_path / name)
    )


def test_retract_removes_cone(spark, tmp_path):
    """Cutting a chain link removes every ancestor crossing it — and only
    those."""
    chain = [(x, "parent", y, DG) for x, y in zip("abcd", "bcd")]
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, chain), 0)
    assert ("a", "anc", "d", DG) in _store_set(r)

    m = r.retract_batch(_df(spark, [("b", "parent", "c", DG)]))
    assert m["retracted"] == 1
    assert m["readded"] == 0  # tree paths are unique: nothing re-derivable
    got = _store_set(r)
    remaining = [q for q in chain if q[0] != "b"]
    assert got == _expected(spark, remaining)
    assert ("a", "anc", "b", DG) in got and ("c", "anc", "d", DG) in got
    assert ("a", "anc", "c", DG) not in got and ("b", "anc", "d", DG) not in got


def test_premise_reassertion_survives_retraction(spark, tmp_path):
    """A quad that is BOTH derivable and independently asserted as a premise
    stays when the derivation's support is retracted."""
    prem = [
        ("a", "parent", "b", DG),
        ("a", "anc", "b", DG),  # the same fact rule 0 derives, as a premise
        ("b", "parent", "c", DG),
    ]
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, prem), 0)

    m = r.retract_batch(_df(spark, [("a", "parent", "b", DG)]))
    got = _store_set(r)
    # anc(a,b) was over-deleted (its rule-0 derivation died) but must come
    # back as a surviving premise, and anc(a,c) must be RE-DERIVED from it
    assert ("a", "anc", "b", DG) in got
    assert ("a", "anc", "c", DG) in got
    assert ("a", "parent", "b", DG) not in got
    assert m["readded"] >= 2
    assert got == _expected(spark, prem[1:])


def test_rederivation_cascades(spark, tmp_path):
    """Re-added facts support further re-additions (multi-round DRed)."""
    prem = [(f"n{k}", "parent", f"n{k + 1}", DG) for k in range(5)] + [
        ("n0", "anc", "n1", DG)  # shortcut premise shadowing edge 0
    ]
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, prem), 0)

    m = r.retract_batch(_df(spark, [("n0", "parent", "n1", DG)]))
    got = _store_set(r)
    assert got == _expected(spark, prem[1:])
    # the whole n0-ancestor family must have been re-derived through the
    # shortcut premise
    assert ("n0", "anc", "n5", DG) in got
    assert m["rederive_rounds"] >= 1 and m["removed"] == 1


def test_retract_unknown_quads_is_noop(spark, tmp_path):
    chain = [("a", "parent", "b", DG)]
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, chain), 0)
    before = _store_set(r)
    m = r.retract_batch(
        _df(spark, [("x", "parent", "y", DG), ("a", "anc", "b", DG)])
    )
    # anc(a,b) is derived, not a premise — not retractable either
    assert m["retracted"] == 0 and _store_set(r) == before


def test_retract_everything_empties_store(spark, tmp_path):
    chain = [(x, "parent", y, DG) for x, y in zip("abc", "bcd")]
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, chain), 0)
    r.retract_batch(_df(spark, chain))
    assert _store_set(r) == set()
    # and a fresh reasoner on the same durable dirs agrees
    r2 = _reasoner(spark, tmp_path)
    assert _store_set(r2) == set()


def test_unconditional_head_never_deleted(spark, tmp_path):
    """A quad derivable both unconditionally and via a retracted premise
    survives (unconditional heads hold in any store)."""
    rules = _rules() + [
        Rule.create([], [[B("sys"), B("status"), B("ok"), B(DG)]]),
        Rule.create(
            [[U("a"), B("parent"), U("b"), B(DG)]],
            [[B("sys"), B("status"), B("ok"), B(DG)]],
        ),
    ]
    prem = [("a", "parent", "b", DG)]
    r = _reasoner(spark, tmp_path, rules=rules)
    r.process_batch(_df(spark, prem), 0)
    assert ("sys", "status", "ok", DG) in _store_set(r)

    r.retract_batch(_df(spark, prem))
    got = _store_set(r)
    assert ("sys", "status", "ok", DG) in got
    assert ("a", "anc", "b", DG) not in got


def test_constant_head_alternative_support(spark, tmp_path):
    """Fully-constant conditional head: survives while ANY body support
    remains (exercises the 0/1-row head-unification gate)."""
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), B(DG)]],
            [[B("graph"), B("has"), B("edges"), B(DG)]],
        ),
    ]
    prem = [("a", "parent", "b", DG), ("c", "parent", "d", DG)]
    r = _reasoner(spark, tmp_path, rules=rules)
    r.process_batch(_df(spark, prem), 0)

    m = r.retract_batch(_df(spark, prem[:1]))
    got = _store_set(r)
    assert ("graph", "has", "edges", DG) in got  # re-derived from (c,d)
    assert m["readded"] == 1

    r.retract_batch(_df(spark, prem[1:]))
    assert ("graph", "has", "edges", DG) not in _store_set(r)


def test_signed_batch_applies_retracts_then_inserts(spark, tmp_path):
    signed_schema = SCHEMA + ", op string"
    r = _reasoner(spark, tmp_path)
    r.process_signed_batch(
        spark.createDataFrame(
            [
                ("a", "parent", "b", DG, "+"),
                ("b", "parent", "c", DG, "+"),
            ],
            signed_schema,
        ),
        0,
    )
    assert ("a", "anc", "c", DG) in _store_set(r)
    r.process_signed_batch(
        spark.createDataFrame(
            [
                ("b", "parent", "c", DG, "-"),
                ("c", "parent", "d", DG, "+"),
            ],
            signed_schema,
        ),
        1,
    )
    got = _store_set(r)
    assert got == _expected(
        spark, [("a", "parent", "b", DG), ("c", "parent", "d", DG)]
    )


def test_retract_matches_batch_engine_on_tree(spark, tmp_path):
    """Moderate binary tree + shortcut premises; retract a mixed subset —
    final state must equal the batch engine on the survivors."""
    edges = [
        (f"n{k}", "parent", f"n{k // 2}", DG) for k in range(2, 40)
    ]
    shortcuts = [
        (f"n{k}", "anc", f"n{k // 2}", DG) for k in range(2, 40) if k % 3 == 0
    ]
    prem = edges + shortcuts
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, prem), 0)

    retract = [q for q in edges if int(q[0][1:]) % 4 == 0]
    r.retract_batch(_df(spark, retract))
    remaining = [q for q in prem if q not in retract]
    assert _store_set(r) == _expected(spark, remaining)


def test_retract_three_atom_two_head_rule(spark, tmp_path):
    """A three-atom body with two head atoms, one repeating a variable
    (``?b mid ?b``): re-derivation probes every head atom against the cone,
    the repeated variable as an intra-row equality. Second parents give
    some retracted facts alternative derivations."""
    rules = _rules() + [
        Rule.create(
            [
                [U("a"), B("parent"), U("b"), B(DG)],
                [U("b"), B("parent"), U("c"), B(DG)],
                [U("c"), B("parent"), U("d"), B(DG)],
            ],
            [
                [U("a"), B("ggp"), U("d"), B(DG)],
                [U("b"), B("mid"), U("b"), B(DG)],
            ],
        )
    ]
    edges = [(f"n{k}", "parent", f"n{k // 2}", DG) for k in range(2, 24)]
    second = [(f"n{k}", "parent", f"n{k // 2 + 1}", DG) for k in range(4, 24, 3)]
    prem = edges + second + [("n5", "mid", "n5", DG)]
    r = _reasoner(spark, tmp_path, rules=rules)
    r.process_batch(_df(spark, prem), 0)

    retract = [q for q in edges if int(q[0][1:]) % 5 == 0]
    m = r.retract_batch(_df(spark, retract))
    assert m["readded"] > 0 and m["rederive_rounds"] >= 1
    remaining = [q for q in prem if q not in retract]
    assert _store_set(r) == _expected(spark, remaining, rules)


def test_journal_crash_window_replays(spark, tmp_path):
    """A crash after the journal commits but before it applies must replay
    idempotently on the next startup."""
    chain = [(x, "parent", y, DG) for x, y in zip("abcd", "bcd")]
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, chain), 0)

    # crash INSIDE the durable apply, after the journal is committed
    orig = r._apply_journal
    r._apply_journal = lambda: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        r.retract_batch(_df(spark, [("b", "parent", "c", DG)]))
    r._apply_journal = orig
    assert os.path.exists(os.path.join(r._journal_dir(), "_COMMIT"))

    # a fresh reasoner heals the journal and sees the post-retraction state
    r2 = _reasoner(spark, tmp_path)
    remaining = [q for q in chain if q[0] != "b"]
    assert _store_set(r2) == _expected(spark, remaining)
    assert not os.path.isdir(r2._journal_dir())
    # and the retraction is durable in the premise set too: re-retracting
    # is a no-op
    assert r2.retract_batch(_df(spark, [("b", "parent", "c", DG)]))["retracted"] == 0


def test_retract_constraint_rich_inputs(spark, tmp_path):
    """Regression: parquet-read + filtered inputs carry Catalyst constraints
    into the localCheckpointed cone blocks; with constraint propagation at
    the Spark default, Union.rewriteConstraints then threw
    NoSuchElementException ("key not found: g#N") on the cone/readded
    unions. retract_batch must scope the conf off — and restore it."""
    src = str(tmp_path / "edges.parquet")
    edges = [(f"n{k}", "parent", f"n{k // 2}", DG) for k in range(2, 30)]
    shortcuts = [
        (f"n{k}", "anc", f"n{k // 2}", DG) for k in range(2, 30) if k % 3 == 0
    ]
    _df(spark, edges + shortcuts).write.parquet(src)
    from pyspark.sql import functions as F

    loaded = spark.read.parquet(src).filter(F.col("s").isNotNull())
    r = _reasoner(spark, tmp_path)
    r.process_batch(loaded, 0)

    ckey = "spark.sql.constraintPropagation.enabled"
    saved = spark.conf.get(ckey, "true")
    retract = loaded.filter(
        (F.col("p") == "parent") & (F.col("s").substr(2, 9).cast("int") % 4 == 0)
    )
    r.retract_batch(retract)
    assert spark.conf.get(ckey, "true") == saved
    remaining = [
        q
        for q in edges + shortcuts
        if not (q[1] == "parent" and int(q[0][1:]) % 4 == 0)
    ]
    assert _store_set(r) == _expected(spark, remaining)


def test_signed_file_stream_end_to_end(spark, tmp_path):
    """CDC parquet source through start_signed_file_stream: each micro-batch
    applies its retracts then its inserts; the final store equals the batch
    engine over the net surviving premises."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    signed_schema = SCHEMA + ", op string"

    def _write(rows):
        spark.createDataFrame(rows, signed_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    r = _reasoner(spark, tmp_path)
    _write([("a", "parent", "b", DG, "+"), ("b", "parent", "c", DG, "+")])
    r.start_signed_file_stream(src, ckpt).awaitTermination(120)
    assert ("a", "anc", "c", DG) in _store_set(r)

    _write([("b", "parent", "c", DG, "-"), ("c", "parent", "d", DG, "+")])
    r.start_signed_file_stream(src, ckpt).awaitTermination(120)
    assert _store_set(r) == _expected(
        spark, [("a", "parent", "b", DG), ("c", "parent", "d", DG)]
    )


def test_track_premises_off_rejects_retract(spark, tmp_path):
    r = IncrementalReasoner(
        spark, _rules(), str(tmp_path / "store"), track_premises=False
    )
    r.process_batch(_df(spark, [("a", "parent", "b", DG)]), 0)
    with pytest.raises(ValueError):
        r.retract_batch(_df(spark, [("a", "parent", "b", DG)]))


def test_retraction_shuffle_fallback_paths(spark, tmp_path, monkeypatch):
    """Above BROADCAST_MAX_ROWS every broadcast in the DRed path falls back
    to shuffle joins (cluster-shaped plans, same semantics). Force the
    fallback for ALL of over-delete / subtract / re-derive by pinning the
    cutoff to 0, on a workload where re-derivation matters (a premise
    shadows a retracted edge), and require the exact surviving closure."""
    from rify_spark.streaming import retract as rmod

    monkeypatch.setattr(rmod, "BROADCAST_MAX_ROWS", 0)

    prem = [
        ("a", "parent", "b", DG),
        ("b", "parent", "c", DG),
        ("b", "anc", "c", DG),  # shadow premise: survives the edge retract
        ("c", "parent", "d", DG),
    ]
    r = _reasoner(spark, tmp_path)
    r.process_batch(_df(spark, prem), 0)

    # the shuffle-path subtract plan must NOT broadcast the cone side
    cone = _df(spark, [("b", "parent", "c", DG)]).localCheckpoint(eager=True)
    plan = rmod.subtract_plan(
        r._store, cone, 1
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan

    m = r.retract_batch(_df(spark, [("b", "parent", "c", DG)]))
    assert m["retracted"] == 1
    assert m["readded"] > 0  # the shadow premise re-derives the cone
    remaining = [q for q in prem if q != ("b", "parent", "c", DG)]
    assert _store_set(r) == _expected(spark, remaining)


def test_reseed_overlap_no_duplicate_rows(spark, tmp_path):
    """A cone member that is BOTH a surviving premise and an unconditional
    head enters the reseed through both arms; the store and the durable
    parquet must still hold exactly one copy (set semantics — regression
    for a duplicated reseed union)."""
    quad = ("sys", "status", "ok", DG)
    rules = [
        Rule.create([], [[B("sys"), B("status"), B("ok"), B(DG)]]),
        Rule.create(
            [[U("a"), B("parent"), U("b"), B(DG)]],
            [[B("sys"), B("status"), B("ok"), B(DG)]],
        ),
    ]
    prem = [("a", "parent", "b", DG), quad]
    r = _reasoner(spark, tmp_path, rules=rules)
    r.process_batch(_df(spark, prem), 0)

    m = r.retract_batch(_df(spark, [prem[0]]))
    assert m["readded"] == 1  # one surviving quad, not one per reseed arm
    durable = [tuple(x) for x in r.facts().collect()]
    assert len(durable) == len(set(durable)) == 1
    live = [tuple(x) for x in r._live_store().union().collect()]
    assert len(live) == len(set(live)) == 1
    assert r._live_store().total_rows == 1
    assert _store_set(r) == {quad}


def test_retract_with_empty_fact_store_removes_premises(spark, tmp_path):
    """Crash window: premise records exist but the fact store is empty
    (process_batch appends premises before facts). Retraction must still
    remove the premises durably — a stale premise would reseed future
    cones as 'still asserted' (regression for an early return that skipped
    the durable edit)."""
    import shutil as _sh

    prem = [("a", "parent", "b", DG)]
    r0 = _reasoner(spark, tmp_path)
    r0.process_batch(_df(spark, prem), 0)
    _sh.rmtree(r0.store_dir)  # simulate the crash before the fact write

    r = _reasoner(spark, tmp_path)  # restart over the same paths
    assert r.facts().count() == 0
    assert r._premises_df().count() == 1

    m = r.retract_batch(_df(spark, prem))
    assert m["retracted"] == 1 and m["cone"] == 0
    assert r._premises_df().count() == 0
    # and the premise stays gone across another restart
    assert _reasoner(spark, tmp_path)._premises_df().count() == 0
