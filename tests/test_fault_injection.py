"""Fault injection: every loop that scopes session confs restores them on
the exception path too.

``FactStore.stage_block`` is made to raise on its second call, i.e. in
the middle of round 2, after the round's conf regime (codegen, AQE,
width, constraint propagation) has been applied. The original exception
must propagate and each conf must read exactly as before the call — a
key that was unset before must be unset again.
"""

import pytest

from rify_spark import Bound as B, Rule, Unbound as U
from rify_spark.api import infer_df
from rify_spark.extract import code_files_df
from rify_spark.infer import FactStore
from rify_spark.pipeline import run_pipeline

KEYS = (
    "spark.sql.codegen.wholeStage",
    "spark.sql.adaptive.enabled",
    "spark.sql.constraintPropagation.enabled",
    "spark.sql.shuffle.partitions",
)


class InjectedFault(RuntimeError):
    pass


@pytest.fixture
def fail_second_stage_block(monkeypatch):
    real = FactStore.stage_block
    calls = []

    def stage_block(self, df):
        calls.append(1)
        if len(calls) == 2:
            raise InjectedFault("injected: second stage_block")
        return real(self, df)

    monkeypatch.setattr(FactStore, "stage_block", stage_block)
    return calls


def _generic(spark):
    # symmetry over one fact: round 1 derives (y p x), round 2 re-derives
    # (x p y) and stages an empty block — the injected fault fires there
    facts = spark.createDataFrame(
        [("x", "p", "y", "g")], "s string, p string, o string, g string"
    )
    rules = [Rule.create([[U("a"), B("p"), U("b"), U("g")]],
                         [[U("b"), B("p"), U("a"), U("g")]])]
    infer_df(spark, facts, rules)


def _smart_tc(spark):
    # linear TC over a 6-edge chain routes to tc.smart_tc_fixpoint
    facts = spark.createDataFrame(
        [(f"n{i}", "p", f"n{i + 1}", "g") for i in range(6)],
        "s string, p string, o string, g string",
    )
    rules = [
        Rule.create([[U("a"), B("p"), U("b"), U("g")]],
                    [[U("a"), B("q"), U("b"), U("g")]]),
        Rule.create(
            [[U("a"), B("p"), U("b"), U("g")], [U("b"), B("q"), U("c"), U("g")]],
            [[U("a"), B("q"), U("c"), U("g")]],
        ),
    ]
    infer_df(spark, facts, rules)


def _pipeline(spark):
    # a few kB of input: small-input mode (codegen/AQE off, width sized
    # down from an unset 200) before the fixpoint's own regime
    run_pipeline(spark, code_files_df(spark, n_repos=1, n_modules=3, n_funcs=2))


@pytest.mark.parametrize("width", ["4", None], ids=["width_set", "width_unset"])
@pytest.mark.parametrize(
    "run", [_generic, _smart_tc, _pipeline], ids=["fixpoint", "smart_tc", "pipeline"]
)
def test_confs_restored_when_round_raises(spark, fail_second_stage_block, run, width):
    saved = {k: spark.conf.get(k, None) for k in KEYS}
    try:
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.unset("spark.sql.constraintPropagation.enabled")
        if width is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", width)
        before = {k: spark.conf.get(k, None) for k in KEYS}
        with pytest.raises(InjectedFault):
            run(spark)
        assert len(fail_second_stage_block) == 2
        assert {k: spark.conf.get(k, None) for k in KEYS} == before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
