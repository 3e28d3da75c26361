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
    """Both entry points audit the dictionary: infer_df re-raises its
    background audit's collision after joining the audit thread, and infer
    raises it from build_dict_audited."""
    import threading

    from rify_spark import Bound as B, Rule, Unbound as U, infer
    from rify_spark.api import infer_df

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
    with pytest.raises(DictionaryCollision, match="fabricated"):
        infer_df(spark, spark.createDataFrame(quads, SCHEMA), rules)
    assert len(audit_threads) == 1
    assert audit_threads[0] is not threading.main_thread()
    assert not audit_threads[0].is_alive()
    with pytest.raises(DictionaryCollision, match="fabricated"):
        infer(spark, quads, rules)
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
