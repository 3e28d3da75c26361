"""Salted-join correctness: plain join == salted join on skewed data, for
every supported join type (the skew *benchmark* lives in scripts/skew_bench.py;
these tests pin semantics)."""

import pytest
from pyspark.sql import functions as F

from rify_spark.skew import (
    exploded_salts,
    key_skew_stats,
    salted_join,
    targeted_salted_join,
    with_salt,
)


@pytest.fixture(scope="module")
def skewed_pair(spark):
    # one hot key carries 90% of the left side
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(300).select(
        F.when(F.col("id") % 3 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        (F.col("id") * 7).alias("rv"),
    )
    return left, right


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_matches_plain(spark, skewed_pair, how):
    left, right = skewed_pair
    plain = left.join(right, ["k"], how)
    salted = salted_join(left, right, ["k"], n_salts=8, how=how)
    assert sorted(salted.columns) == sorted(plain.columns)
    p = sorted(map(tuple, plain.collect()))
    s = sorted(map(tuple, salted.collect()))
    assert p == s, f"{how}: salted join diverges ({len(p)} vs {len(s)} rows)"


def test_salt_is_deterministic_and_bounded(spark, skewed_pair):
    left, _ = skewed_pair
    a = with_salt(left, 8)
    vals = [r["__salt"] for r in a.select("__salt").distinct().collect()]
    assert all(0 <= v < 8 for v in vals)
    # equal rows get equal salts (stable under retries)
    b = with_salt(left, 8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_exploded_salts_multiplicity(spark, skewed_pair):
    _, right = skewed_pair
    n = right.count()
    assert exploded_salts(right, 5).count() == 5 * n


def test_key_skew_stats(spark, skewed_pair):
    left, _ = skewed_pair
    stats = key_skew_stats(left, ["k"], top=1)
    assert stats[0]["k"] == "hot"
    assert stats[0]["share"] > 0.85


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_targeted_salted_join_matches_plain(spark, skewed_pair, how):
    left, right = skewed_pair
    plain = left.join(right, ["k"], how)
    salted = targeted_salted_join(
        left, right, ["k"], hot_values=[("hot",)], n_salts=8, how=how
    )
    assert sorted(salted.columns) == sorted(plain.columns)
    p = sorted(map(tuple, plain.collect()))
    s = sorted(map(tuple, salted.collect()))
    assert p == s, f"{how}: targeted salted join diverges ({len(p)} vs {len(s)})"


def test_targeted_salted_join_replicates_only_hot(spark, skewed_pair):
    # cold rows must not be replicated: right side grows by (n_salts-1) x hot
    _, right = skewed_pair
    n_hot = right.filter(F.col("k") == "hot").count()
    n = right.count()
    exploded = targeted_salted_join(
        right.select("k"), right, ["k"], hot_values=[("hot",)], n_salts=4
    )
    # join multiplicity identical to plain, so check via the building block:
    from rify_spark.skew import _SALT  # noqa: PLC2701

    salted_right = right.withColumn(
        _SALT,
        F.explode(
            F.when(
                F.col("k") == "hot",
                F.array(*[F.lit(i).cast("int") for i in range(4)]),
            ).otherwise(F.array(F.lit(0).cast("int")))
        ),
    )
    assert salted_right.count() == n + 3 * n_hot
    assert exploded.count() == right.select("k").join(right, ["k"]).count()


def test_fixpoint_salted_equals_unsalted(spark):
    """Planted hot key through the whole engine: a star graph (every node
    points at one hub) closed under transitivity, with the broadcast cutoff
    forced to 0 so every iteration takes the shuffle-join + salting path.
    The derived set must be identical with salting on and off."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    n = 400
    edges = [(f"n{i}", "parent", "hub", "g") for i in range(n)] + [
        ("hub", "parent", "root", "g"),
        ("root", "parent", "top", "g"),
    ]
    facts = spark.createDataFrame(edges, "s string, p string, o string, g string")
    rules = [
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

    def run(salt: bool):
        cfg = InferConfig(
            broadcast_delta_max_rows=0,
            salt_hot_values=salt,
            hot_value_min_share=0.1,
        )
        df, fx = infer_df(spark, facts, rules, config=cfg)
        return sorted(map(tuple, df.collect()))

    unsalted = run(False)
    salted = run(True)
    assert salted == unsalted
    # derived anc quads only: n_i->{hub,root,top} + hub->{root,top} + root->top
    assert len(salted) == n * 3 + 3
