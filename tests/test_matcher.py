"""Matcher unit tests — the reference's reasoner-level vectors
(src/reasoner.rs:343-563) expressed against the join-chain compiler."""

from pyspark.sql import functions as F

from rify_spark.infer import InferConfig, fixpoint, seed_facts
from rify_spark.matcher import bindings, order_body, project_heads
from rify_spark.rules import Bound as B, Rule, Unbound as U, lower_rule

DG = "dg"
SCHEMA = "s string, p string, o string, g string"


def _facts(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_ancestry_raw_binding_sets(spark):
    # reference src/reasoner.rs:355-439: single pass of the conjunctive
    # matcher on a 4-node parent cycle; expected binding sets are exact
    nodes = [f"n{i}" for i in range(4)]
    rows = [
        (a, "parent", b, DG) for a, b in zip(nodes, nodes[1:] + nodes[:1])
    ]
    facts = _facts(spark, rows)

    # rule: (?a parent ?b) — bindings enumerate every edge
    r1 = lower_rule(
        Rule.create([[U("a"), B("parent"), U("b"), B(DG)]], []), 0, lambda t: t
    )
    b1 = {(r["v0"], r["v1"]) for r in bindings(facts, r1).collect()}
    assert b1 == {("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n0")}

    # rule: (?a parent ?b) ∧ (?b parent ?c) — 2-hop chains on the cycle
    r2 = lower_rule(
        Rule.create(
            [
                [U("a"), B("parent"), U("b"), B(DG)],
                [U("b"), B("parent"), U("c"), B(DG)],
            ],
            [],
        ),
        0,
        lambda t: t,
    )
    b2 = {
        (r["v0"], r["v1"], r["v2"]) for r in bindings(facts, r2).collect()
    }
    assert b2 == {
        ("n0", "n1", "n2"),
        ("n1", "n2", "n3"),
        ("n2", "n3", "n0"),
        ("n3", "n0", "n1"),
    }


def test_delta_seeded_bindings(spark):
    # apply_related semantics: at least one atom must match the delta quad
    facts = _facts(
        spark,
        [
            ("a", "anc", "b", DG),
            ("b", "anc", "c", DG),
            ("c", "anc", "d", DG),
        ],
    )
    delta = _facts(spark, [("b", "anc", "c", DG)])
    r = lower_rule(
        Rule.create(
            [
                [U("x"), B("anc"), U("y"), B(DG)],
                [U("y"), B("anc"), U("z"), B(DG)],
            ],
            [],
        ),
        0,
        lambda t: t,
    )
    seeded = set()
    for pos in (0, 1):
        for row in bindings(facts, r, delta=delta, seed_pos=pos).collect():
            seeded.add((row["v0"], row["v1"], row["v2"]))
    # only chains touching (b,c): a-b-c (delta at pos 1) and b-c-d (pos 0)
    assert seeded == {("a", "b", "c"), ("b", "c", "d")}


def test_order_body_prefers_connected_and_selective():
    # atoms: 0 = (?x p ?y), 1 = (?z q c) [more consts], 2 = (?y r ?z)
    body = [
        (("v", 0), ("c", "p"), ("v", 1), ("c", "g")),
        (("v", 2), ("c", "q"), ("c", "k"), ("c", "g")),
        (("v", 1), ("c", "r"), ("v", 2), ("c", "g")),
    ]
    order = order_body(body)
    # starts with the most-constant atom, then stays connected
    assert order[0] == 1
    assert order == [1, 2, 0]
    # seeded order pins the seed first
    assert order_body(body, seed_pos=0)[0] == 0
    # stats override the constant-count heuristic
    stats = {"p": 1, "q": 1000, "r": 500}
    assert order_body(body, stats=stats)[0] == 0


def test_existence_gate_all_constant_body(spark):
    facts = _facts(spark, [("a", "b", "c", DG)])
    r_hit = lower_rule(
        Rule.create(
            [[B("a"), B("b"), B("c"), B(DG)]],
            [[B("x"), B("y"), B("z"), B(DG)]],
        ),
        0,
        lambda t: t,
    )
    b = bindings(facts, r_hit)
    assert b.count() == 1
    heads = project_heads(b, r_hit, facts.schema["s"].dataType)
    assert [tuple(r) for r in heads.collect()] == [("x", "y", "z", DG)]
    r_miss = lower_rule(
        Rule.create(
            [[B("a"), B("b"), B("MISSING"), B(DG)]],
            [[B("x"), B("y"), B("z"), B(DG)]],
        ),
        0,
        lambda t: t,
    )
    assert bindings(facts, r_miss).count() == 0


def test_fixpoint_max_iterations_guard(spark):
    facts = _facts(spark, [("n0", "parent", "n1", DG), ("n1", "parent", "n0", DG)])
    rules = [
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
    lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
    facts0 = seed_facts(spark, facts, lrules)
    res = fixpoint(spark, facts0, lrules, InferConfig(max_iterations=1))
    assert res.iterations == 1  # stopped early, did not reach closure


def test_store_stats_counts_and_fanout(spark):
    from rify_spark.ops.quads import store_stats

    quads = spark.createDataFrame(
        [
            ("a", "p", "x", "g"),
            ("a", "p", "y", "g"),
            ("b", "p", "x", "g"),
            ("a", "q", "x", "g"),
        ],
        "s string, p string, o string, g string",
    )
    got = {
        r.p: (r.n_quads, r.n_subjects, r.n_objects)
        for r in store_stats(quads).collect()
    }
    assert got == {"p": (3, 2, 2), "q": (1, 1, 1)}
