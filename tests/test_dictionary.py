"""Dictionary tests: hash-encode/decode bijectivity, collision audit,
novel-term behavior (Translator parity, src/translator.rs)."""

import pytest

from rify_spark import dictionary as D
from rify_spark.errors import DictionaryCollision

SCHEMA = "s string, p string, o string, g string"


def test_encode_decode_roundtrip(spark):
    rows = [
        ("alice", "knows", "bob", "g1"),
        ("bob", "knows", "carol", "g2"),
    ]
    facts = spark.createDataFrame(rows, SCHEMA)
    enc = D.encode_quads(facts)
    assert [f.dataType.simpleString() for f in enc.schema.fields] == [D.ID_TYPE] * 4
    d = D.build_dict(spark, facts)
    dec = {tuple(r) for r in D.decode_quads(enc, d).collect()}
    assert dec == set(rows)


def test_dict_covers_extra_terms(spark):
    facts = spark.createDataFrame([("a", "p", "b", "g")], SCHEMA)
    d = D.build_dict(spark, facts, extra_terms=["rule_const"])
    terms = {r["term"] for r in d.collect()}
    assert terms == {"a", "p", "b", "g", "rule_const"}


def test_encode_is_shuffle_free(spark):
    # the scale rationale: encoding must be a narrow projection
    facts = spark.createDataFrame([("a", "p", "b", "g")], SCHEMA)
    plan = D.encode_quads(facts)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_collision_audit_passes_on_real_dict(spark):
    facts = spark.createDataFrame(
        [(f"t{i}", "p", f"u{i}", "g") for i in range(100)], SCHEMA
    )
    assert D.audit_collisions(D.build_dict(spark, facts)) == 0


def test_collision_audit_detects_fabricated_collision(spark):
    bad = spark.createDataFrame(
        [("a", 1), ("b", 1)], "term string, id long"
    )
    with pytest.raises(DictionaryCollision):
        D.audit_collisions(bad)
    assert D.audit_collisions(bad, raise_on_collision=False) == 1


def test_128bit_collision_expectation_documented():
    # design check: expected birthday collisions at 10^12 terms
    n = 10**12
    assert n * n / 2 / 2**64 > 1000        # 64-bit ids would fail the audit
    assert n * n / 2 / 2**128 < 1e-12      # 128-bit ids cannot collide


def test_default_path_builds_no_dictionary(spark, monkeypatch):
    """The engine runs on the string terms: no entry point calls the id
    dictionary, and infer_df, infer, prove and run_pipeline still derive
    exactly the closure."""
    from rify_spark import Bound as B, Rule, Unbound as U, infer, prove
    from rify_spark.api import infer_df
    from rify_spark.extract import code_files_df
    from rify_spark.pipeline import code_ontology_rules, run_pipeline
    from rify_spark.reference import naive_closure

    edges = [(f"c{i}", "parent", f"c{i + 1}", "g") for i in range(6)]
    rules = [
        # unconditional: one head equal to a premise, one novel
        Rule.create([], [[B("c0"), B("parent"), B("c1"), B("g")]]),
        Rule.create([], [[B("axiom"), B("is"), B("true"), B("g")]]),
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), U("g")],
                [U("b"), B("anc"), U("c"), U("g")],
            ],
            [[U("a"), B("anc"), U("c"), U("g")]],
        ),
    ]
    want = sorted(
        [(f"c{i}", "anc", f"c{j}", "g") for i in range(7) for j in range(i + 1, 7)]
        + [("axiom", "is", "true", "g")]
    )

    def forbidden(*args, **kwargs):
        raise AssertionError("dictionary used by the engine")

    for name in (
        "term_id", "encode_quads", "term_df", "build_dict",
        "audit_collisions", "decode_quads",
    ):
        monkeypatch.setattr(D, name, forbidden)

    facts = spark.createDataFrame(edges + edges[:3], SCHEMA)
    derived, _ = infer_df(spark, facts, rules)
    assert sorted(map(tuple, derived.collect())) == want
    assert sorted(infer(spark, edges, rules)) == want
    proof = prove(spark, edges, [("c0", "anc", "c2", "g")], rules)
    assert sorted(app.rule_index for app in proof) == [2, 2, 3]
    res = run_pipeline(spark, code_files_df(spark, n_repos=1, n_modules=3, n_funcs=2))
    canonical = {tuple(r) for r in res.canonical.collect()}
    kg_want = naive_closure(canonical, code_ontology_rules()) - canonical
    assert kg_want
    assert sorted(map(tuple, res.derived.collect())) == sorted(kg_want)
