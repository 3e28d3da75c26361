"""Prove end-to-end tests — ports of reference src/prove.rs:343-713 and the
JS binding's Explicit Ethos chain (bindings/js_wasm/binding_tests/test.js)."""

import pytest

from rify_spark import (
    Bound as B,
    ExhaustedSearchSpace,
    NovelName,
    Rule,
    RuleApplication,
    Unbound as U,
    prove,
    decl_rules,
    validate,
)

DG = "default_graph"


def test_novel_name(spark):
    # src/prove.rs:353-359
    with pytest.raises(NovelName):
        prove(spark, [], [("andrew", "score", "awesome", DG)], [])


def test_search_space_exhausted(spark):
    # src/prove.rs:362-394
    with pytest.raises(ExhaustedSearchSpace):
        prove(
            spark,
            [
                ("score", "score", "score", DG),
                ("andrew", "andrew", "andrew", DG),
                ("awesome", "awesome", "awesome", DG),
            ],
            [("andrew", "score", "awesome", DG)],
            [],
        )
    with pytest.raises(ExhaustedSearchSpace):
        prove(
            spark,
            [
                ("score", "score", "score", DG),
                ("andrew", "andrew", "andrew", DG),
                ("awesome", "awesome", "awesome", DG),
                ("backflip", "backflip", "backflip", DG),
                ("ability", "ability", "ability", DG),
            ],
            [("andrew", "score", "awesome", DG)],
            decl_rules(
                [
                    ([], []),
                    (
                        [[U("a"), B("ability"), B("backflip"), U("g")]],
                        [[U("a"), B("score"), B("awesome"), U("g")]],
                    ),
                ]
            ),
        )


def test_prove_already_stated(spark):
    # src/prove.rs:397-407
    assert (
        prove(
            spark,
            [("doggo", "score", "11", DG)],
            [("doggo", "score", "11", DG)],
            [],
        )
        == []
    )


def test_prove_single_step(spark):
    # src/prove.rs:411-439 — exact RuleApplication incl. canonical
    # instantiation order ["you", "default_graph", "unspecified"]
    awesome_score_axiom = Rule.create(
        [
            [U("boi"), B("is"), B("awesome"), U("g")],
            [U("boi"), B("score"), U("s"), U("g")],
        ],
        [[U("boi"), B("score"), B("awesome"), U("g")]],
    )
    proof = prove(
        spark,
        [
            ("you", "score", "unspecified", DG),
            ("you", "is", "awesome", DG),
        ],
        [("you", "score", "awesome", DG)],
        [awesome_score_axiom],
    )
    assert proof == [
        RuleApplication(0, ("you", "default_graph", "unspecified"))
    ]


def test_graph_separation(spark):
    # src/prove.rs:443-500
    axiom = Rule.create(
        [
            [U("boi"), B("is"), B("awesome"), U("g")],
            [U("boi"), B("score"), U("s"), U("g")],
        ],
        [[U("boi"), B("score"), B("awesome"), U("g")]],
    )
    prove(
        spark,
        [
            ("you", "score", "unspecified", DG),
            ("you", "is", "awesome", DG),
        ],
        [("you", "score", "awesome", DG)],
        [axiom],
    )
    with pytest.raises(ExhaustedSearchSpace):
        prove(
            spark,
            [
                ("you", "score", "unspecified", DG),
                ("you", "is", "awesome", "other_graph"),
            ],
            [("you", "score", "awesome", DG)],
            [axiom],
        )
    with pytest.raises(ExhaustedSearchSpace):
        prove(
            spark,
            [
                ("you", "score", "unspecified", DG),
                ("you", "is", "awesome", "other_graph"),
            ],
            [("you", "score", "awesome", "other_graph")],
            [axiom],
        )
    with pytest.raises(ExhaustedSearchSpace):
        prove(
            spark,
            [
                ("you", "score", "unspecified", DG),
                ("you", "is", "awesome", DG),
                ("other_graph", "other_graph", "other_graph", "other_graph"),
            ],
            [("you", "score", "awesome", "other_graph")],
            [axiom],
        )


FRIENDSHIP_RULES = [
    (
        [
            [B("andrew"), B("claims"), U("c"), B(DG)],
            [U("c"), B("subject"), U("s"), B(DG)],
            [U("c"), B("property"), U("p"), B(DG)],
            [U("c"), B("object"), U("o"), B(DG)],
        ],
        [[U("s"), U("p"), U("o"), B(DG)]],
    ),
    (
        [
            [U("person_a"), B("is"), B("awesome"), B(DG)],
            [U("person_a"), B("friendswith"), U("person_b"), B(DG)],
        ],
        [[U("person_b"), B("is"), B("awesome"), B(DG)]],
    ),
    (
        [[U("person_a"), B("friendswith"), U("person_b"), B(DG)]],
        [[U("person_b"), B("friendswith"), U("person_a"), B(DG)]],
    ),
]

FRIENDSHIP_FACTS = [
    ("soyoung", "friendswith", "nick", DG),
    ("nick", "friendswith", "elina", DG),
    ("elina", "friendswith", "sam", DG),
    ("sam", "friendswith", "fausto", DG),
    ("fausto", "friendswith", "lovesh", DG),
    ("andrew", "claims", "_:claim1", DG),
    ("_:claim1", "subject", "lovesh", DG),
    ("_:claim1", "property", "is", DG),
    ("_:claim1", "object", "awesome", DG),
]


def test_prove_multi_step(spark):
    # src/prove.rs:503-627 — 11-step proof + validate round trip
    rules = decl_rules(FRIENDSHIP_RULES)
    composite_claims = [
        ("soyoung", "is", "awesome", DG),
        ("nick", "is", "awesome", DG),
    ]
    expected_proof = [
        RuleApplication(0, ("_:claim1", "lovesh", "is", "awesome")),
        RuleApplication(2, ("fausto", "lovesh")),
        RuleApplication(1, ("lovesh", "fausto")),
        RuleApplication(2, ("sam", "fausto")),
        RuleApplication(1, ("fausto", "sam")),
        RuleApplication(2, ("elina", "sam")),
        RuleApplication(1, ("sam", "elina")),
        RuleApplication(2, ("nick", "elina")),
        RuleApplication(1, ("elina", "nick")),
        RuleApplication(2, ("soyoung", "nick")),
        RuleApplication(1, ("nick", "soyoung")),
    ]
    proof = prove(spark, FRIENDSHIP_FACTS, composite_claims, rules)
    assert len(proof) <= len(expected_proof)
    assert proof == expected_proof
    valid = validate(rules, proof)
    for claim in composite_claims:
        assert claim in valid.implied
        assert claim not in FRIENDSHIP_FACTS


def test_ancestry_high_prove_and_verify(spark):
    # src/prove.rs:630-678 — non-string (u32) terms
    nxt = iter(range(100))
    parent, ancestor, default_graph = next(nxt), next(nxt), next(nxt)
    nodes = [next(nxt) for _ in range(10)]
    facts = [
        (a, parent, b, default_graph)
        for a, b in zip(nodes, nodes[1:] + nodes[:1])
    ]
    rules = decl_rules(
        [
            (
                [[U("a"), B(parent), U("b"), B(default_graph)]],
                [[U("a"), B(ancestor), U("b"), B(default_graph)]],
            ),
            (
                [
                    [U("a"), B(ancestor), U("b"), B(default_graph)],
                    [U("b"), B(ancestor), U("c"), B(default_graph)],
                ],
                [[U("a"), B(ancestor), U("c"), B(default_graph)]],
            ),
        ]
    )
    composite_claims = [
        (nodes[0], ancestor, nodes[-1], default_graph),
        (nodes[-1], ancestor, nodes[0], default_graph),
        (nodes[0], ancestor, nodes[0], default_graph),
        (nodes[0], parent, nodes[1], default_graph),  # a premise
    ]
    proof = prove(spark, facts, composite_claims, rules)
    valid = validate(rules, proof)
    assert valid.assumed == set(facts), "all premises used for this proof"
    for claim in composite_claims:
        assert (claim in valid.implied) ^ (claim in facts)
    for fact in facts:
        assert fact not in valid.implied


def test_no_proof_is_generated_for_facts(spark):
    # src/prove.rs:681-694
    facts = [
        ("tacos", "are", "tasty", DG),
        ("nachos", "are", "tasty", DG),
        ("nachos", "are", "food", DG),
    ]
    rules = decl_rules(
        [
            (
                [[B("nachos"), B("are"), B("tasty"), B(DG)]],
                [[B("nachos"), B("are"), B("food"), B(DG)]],
            )
        ]
    )
    assert prove(spark, facts, [("nachos", "are", "food", DG)], rules) == []


def test_unconditional_rule(spark):
    # src/prove.rs:697-712
    rules = decl_rules([([], [[B("nachos"), B("are"), B("food"), B(DG)]])])
    proof = prove(spark, [], [("nachos", "are", "food", DG)], rules)
    assert proof == [RuleApplication(0, ())]


# --- Explicit Ethos credential chain (JS binding test, DCK-69) -------------

CREDENTIAL_EE = [
    ("root_authority", "claims", "_:0", DG),
    ("_:0", "subject", "root_authority", DG),
    ("_:0", "predicate", "defersTo", DG),
    ("_:0", "object", "issuer", DG),
    ("issuer", "claims", "_:1", DG),
    ("_:1", "subject", "bobert", DG),
    ("_:1", "predicate", "mayPurchase", DG),
    ("_:1", "object", "http://www.heppnetz.de/ontologies/vso/ns#Vehicle", DG),
]

EE_RULES = [
    (
        [
            [U("super"), B("claims"), U("claim1"), B(DG)],
            [U("claim1"), B("subject"), U("super"), B(DG)],
            [U("claim1"), B("predicate"), B("defersTo"), B(DG)],
            [U("claim1"), B("object"), U("minor"), B(DG)],
        ],
        [[U("super"), B("defersTo"), U("minor"), B(DG)]],
    ),
    (
        [
            [U("super"), B("defersTo"), U("minor"), B(DG)],
            [U("minor"), B("claims"), U("claim1"), B(DG)],
        ],
        [[U("super"), B("claims"), U("claim1"), B(DG)]],
    ),
    (
        [
            [B("root_authority"), B("claims"), U("c"), B(DG)],
            [U("c"), B("subject"), U("s"), B(DG)],
            [U("c"), B("predicate"), U("p"), B(DG)],
            [U("c"), B("object"), U("o"), B(DG)],
        ],
        [[U("s"), U("p"), U("o"), B(DG)]],
    ),
]


def test_explicit_ethos_proof_and_validation(spark):
    # bindings/js_wasm/binding_tests/test.js:93-146 — exact proof,
    # exact assumed/implied sets
    rules = decl_rules(EE_RULES)
    vehicle = "http://www.heppnetz.de/ontologies/vso/ns#Vehicle"
    composite_claims = [("bobert", "mayPurchase", vehicle, DG)]
    proof = prove(spark, CREDENTIAL_EE, composite_claims, rules)
    assert proof == [
        RuleApplication(0, ("root_authority", "_:0", "issuer")),
        RuleApplication(1, ("root_authority", "issuer", "_:1")),
        RuleApplication(2, ("_:1", "bobert", "mayPurchase", vehicle)),
    ]
    valid = validate(rules, proof)
    assert valid.assumed == set(CREDENTIAL_EE)
    assert valid.implied == {
        ("bobert", "mayPurchase", vehicle, DG),
        ("root_authority", "claims", "_:1", DG),
        ("root_authority", "defersTo", "issuer", DG),
    }


def test_loading_of_rules_works(spark):
    # test.js:88-91
    rules = decl_rules(EE_RULES)
    assert prove(spark, [], [], rules) == []
    validate(rules, [])


def test_prove_frontier_walk_matches_collect_path(spark, monkeypatch):
    """collect_reachable_arguments falls back to an iterative frontier join
    above COLLECT_ARGUMENTS_MAX_ROWS; with the threshold forced to 0 the
    frontier branch must produce the identical proof (and validate)."""
    import importlib

    # the package re-exports the prove() function under the module's name
    prove_mod = importlib.import_module("rify_spark.prove")

    rules = decl_rules(FRIENDSHIP_RULES)
    composite_claims = [
        ("soyoung", "is", "awesome", DG),
        ("nick", "is", "awesome", DG),
    ]
    baseline = prove(spark, FRIENDSHIP_FACTS, composite_claims, rules)
    monkeypatch.setattr(prove_mod, "COLLECT_ARGUMENTS_MAX_ROWS", 0)
    frontier = prove(spark, FRIENDSHIP_FACTS, composite_claims, rules)
    assert frontier == baseline
    valid = validate(rules, frontier)
    for claim in composite_claims:
        assert claim in valid.implied


def test_lineage_to_quads_reifies_the_arguments_map(spark):
    from pyspark.sql import functions as F

    from rify_spark.prove import PROV_GRAPH, lineage_to_quads

    args = spark.createDataFrame(
        [("a", "anc", "b", "g", 0, 1), ("a", "anc", "c", "g", 1, 2)],
        "s string, p string, o string, g string, "
        "rule_index long, iteration long",
    )
    out = lineage_to_quads(args)
    rows = [tuple(r) for r in out.collect()]
    # six quads per derivation, all in the provenance graph
    assert len(rows) == 12 and all(r[3] == PROV_GRAPH for r in rows)
    ds = {r[0] for r in rows}
    assert len(ds) == 2 and all(d.startswith("_:d") for d in ds)
    by_d = {}
    for s, p, o, _ in rows:
        by_d.setdefault(s, {})[p] = o
    for props in by_d.values():
        assert set(props) == {
            "derives_subject", "derives_predicate", "derives_object",
            "derives_graph", "by_rule", "at_iteration",
        }
    pairs = {
        (p["derives_object"], p["by_rule"], p["at_iteration"])
        for p in by_d.values()
    }
    assert pairs == {("b", "rule:0", "1"), ("c", "rule:1", "2")}
    # single scan, no shuffle, no Python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
