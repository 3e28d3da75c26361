"""API edge cases beyond the reference's own vectors."""

import pytest

from rify_spark import (
    Bound as B,
    InferConfig,
    Rule,
    RuleApplication,
    Unbound as U,
    prove,
    validate,
)
from rify_spark.api import TermCodec

DG = "default_graph"


def _ancestry_rules():
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


def test_duplicate_goals_yield_single_proof(spark):
    facts = [("x", "parent", "y", DG)]
    goal = ("x", "anc", "y", DG)
    proof = prove(spark, facts, [goal, goal], _ancestry_rules())
    # consume-once argument semantics: second identical goal adds no steps
    assert proof == [RuleApplication(0, ("x", "y"))]


def test_prove_is_deterministic_across_runs(spark):
    nodes = [f"n{i}" for i in range(6)]
    facts = [(a, "parent", b, DG) for a, b in zip(nodes, nodes[1:])]
    goals = [(nodes[0], "anc", nodes[-1], DG)]
    p1 = prove(spark, facts, goals, _ancestry_rules())
    p2 = prove(spark, facts, goals, _ancestry_rules())
    assert p1 == p2
    valid = validate(_ancestry_rules(), p1)
    assert goals[0] in valid.implied


def test_prove_without_encoding(spark):
    facts = [
        ("you", "score", "unspecified", DG),
        ("you", "is", "awesome", DG),
    ]
    axiom = Rule.create(
        [
            [U("boi"), B("is"), B("awesome"), U("g")],
            [U("boi"), B("score"), U("s"), U("g")],
        ],
        [[U("boi"), B("score"), B("awesome"), U("g")]],
    )
    proof = prove(
        spark,
        facts,
        [("you", "score", "awesome", DG)],
        [axiom],
    )
    assert proof == [RuleApplication(0, ("you", "default_graph", "unspecified"))]


def test_codec_rejects_reserved_prefix():
    with pytest.raises(ValueError):
        TermCodec(["\x00t0"])


def test_codec_mixed_terms_roundtrip():
    c = TermCodec(["a", 1, ("x", 2), "a"])
    assert not c.identity
    for t in ["a", 1, ("x", 2)]:
        assert c.decode(c.encode(t)) == t


def test_empty_rule_fires_nothing(spark):
    # Rule with empty if_all AND empty then (allowed by the reference,
    # src/prove.rs:384)
    from rify_spark import infer

    assert infer(spark, [("a", "b", "c", DG)], [Rule.create([], [])]) == []


def test_proof_longer_chain_exceeds_recursion_limit_safety(spark):
    # 60-node chain: proof depth ~120 steps; the iterative recall must not
    # hit Python recursion limits and validate must round-trip
    n = 60
    nodes = [f"n{i}" for i in range(n)]
    facts = [(a, "parent", b, DG) for a, b in zip(nodes, nodes[1:])]
    goals = [(nodes[0], "anc", nodes[-1], DG)]
    proof = prove(spark, facts, goals, _ancestry_rules())
    valid = validate(_ancestry_rules(), proof)
    assert goals[0] in valid.implied
    assert valid.assumed <= set(facts)
