"""Dictionary tests: hash-encode/decode bijectivity, collision audit,
novel-term behavior (Translator parity, src/translator.rs)."""

import pytest
from pyspark.sql import functions as F

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


def test_collision_audit_always_runs(spark, monkeypatch):
    """Both entry points audit the dictionary when they encode terms
    (``encode_terms=True``; the default runs on strings and builds none):
    infer_df re-raises its background audit's collision after joining the
    audit thread, and infer raises it from build_dict_audited."""
    import threading

    from rify_spark import Bound as B, Rule, Unbound as U, infer
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    real = D.build_dict_deferred
    audit_threads = []

    def colliding(*args, **kwargs):
        dict_df, _ = real(*args, **kwargs)

        def audit_fn():
            audit_threads.append(threading.current_thread())
            raise DictionaryCollision("fabricated collision")

        return dict_df, audit_fn

    monkeypatch.setattr(D, "build_dict_deferred", colliding)
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        )
    ]
    quads = [("x", "parent", "y", "g")]
    encoded = InferConfig(encode_terms=True)
    with pytest.raises(DictionaryCollision, match="fabricated"):
        infer_df(spark, spark.createDataFrame(quads, SCHEMA), rules, encoded)
    assert len(audit_threads) == 1
    assert audit_threads[0] is not threading.main_thread()
    assert not audit_threads[0].is_alive()
    with pytest.raises(DictionaryCollision, match="fabricated"):
        infer(spark, quads, rules, encoded)
    assert len(audit_threads) == 2


def test_hash_terms_matches_spark_hash(spark):
    terms = ["alpha", "beta", "gamma"]
    m = D.hash_terms(spark, terms)
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    expected = {
        r["term"]: (r["h"], r["l"])
        for r in df.select(
            "term",
            F.xxhash64("term").alias("h"),
            F.xxhash64("term", F.lit(1)).alias("l"),
        ).collect()
    }
    assert dict(m) == expected
    # the two lanes are genuinely independent hash functions
    assert all(h != l for h, l in m.values())
    assert D.hash_terms(spark, []) == {}


def test_128bit_collision_expectation_documented():
    # design check: expected birthday collisions at 10^12 terms
    n = 10**12
    assert n * n / 2 / 2**64 > 1000        # 64-bit ids would fail the audit
    assert n * n / 2 / 2**128 < 1e-12      # 128-bit ids cannot collide


def test_default_path_builds_no_dictionary(spark, monkeypatch):
    """Without ``encode_terms=True`` every entry point seeds, joins and
    derives on the string terms: no hash ids, no dictionary, no audit and
    no decode join — and infer_df's and run_pipeline's derived sets equal
    the encoded runs'."""
    from rify_spark import Bound as B, Rule, Unbound as U, infer, prove
    from rify_spark.api import infer_df
    from rify_spark.extract import code_files_df
    from rify_spark.infer import InferConfig
    from rify_spark.pipeline import run_pipeline

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
    facts = spark.createDataFrame(edges + edges[:3], SCHEMA)
    encoded, _ = infer_df(spark, facts, rules, InferConfig(encode_terms=True))
    want = sorted(map(tuple, encoded.collect()))
    files = code_files_df(spark, n_repos=1, n_modules=3, n_funcs=2)
    kg_encoded = run_pipeline(
        spark, files, infer_config=InferConfig(encode_terms=True)
    )
    kg_want = sorted(map(tuple, kg_encoded.derived.collect()))

    def forbidden(*args, **kwargs):
        raise AssertionError("dictionary used on the default path")

    for name in (
        "hash_terms", "encode_quads", "build_dict_deferred",
        "build_dict_audited", "decode_quads",
    ):
        monkeypatch.setattr(D, name, forbidden)

    derived, _ = infer_df(spark, facts, rules)
    assert sorted(map(tuple, derived.collect())) == want
    assert ("c0", "anc", "c6", "g") in want
    assert ("axiom", "is", "true", "g") in want
    assert sorted(infer(spark, edges, rules)) == want
    proof = prove(spark, edges, [("c0", "anc", "c2", "g")], rules)
    assert sorted(app.rule_index for app in proof) == [2, 2, 3]
    res = run_pipeline(spark, files)
    assert res.derived.count() > 0
    assert sorted(map(tuple, res.derived.collect())) == kg_want
