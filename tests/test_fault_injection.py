"""Fault injection: every loop restores what it changed on the exception
path too.

Fixpoint loops: ``FactStore.append`` is made to raise on its second
call, i.e. in the middle of round 2, after the round's conf regime
(codegen, AQE, width, constraint propagation) has been applied. The
original exception must propagate, each conf must read exactly as
before the call — a key that was unset before must be unset again — and
every fact-store block the call built must be unpersisted. A call that
finishes with its result collected (``infer``, ``prove``, the session
warm-up) unpersists them too.

With a checkpoint directory, a rerun with ``resume=True`` after such a
fault continues from the last committed round to the exact closure.

Graph loops: a DataFrame method the loop calls once per round is made to
raise in round 2. The original exception must propagate and every
DataFrame the call persisted must be unpersisted again.
"""

import pytest
from pyspark import StorageLevel

from rify_spark import Bound as B, Rule, Unbound as U, infer, prove
from rify_spark.api import infer_df
from rify_spark.errors import ExhaustedSearchSpace
from rify_spark.extract import code_files_df
from rify_spark.infer import FactStore, InferConfig, fixpoint
from rify_spark.ops.graph import (
    bfs_levels,
    kcore,
    min_label_components,
    pagerank,
    sssp_distances,
)
from rify_spark.pipeline import run_pipeline
from rify_spark.reference import naive_closure
from rify_spark.rules import lower_rule
from rify_spark.session import _warm_session

KEYS = (
    "spark.sql.codegen.wholeStage",
    "spark.sql.adaptive.enabled",
    "spark.sql.constraintPropagation.enabled",
    "spark.sql.shuffle.partitions",
)


class InjectedFault(RuntimeError):
    pass


@pytest.fixture
def fail_second_append(monkeypatch):
    real = FactStore.append
    calls = []

    def append(self, src, with_preds=False):
        calls.append(1)
        if len(calls) == 2:
            raise InjectedFault("injected: second append")
        return real(self, src, with_preds)

    monkeypatch.setattr(FactStore, "append", append)
    return calls


@pytest.fixture
def built_blocks(monkeypatch):
    """Every block a FactStore builds, in build order."""
    real = FactStore._mk_block
    blocks = []

    def mk_block(self, src):
        blocks.append(real(self, src))
        return blocks[-1]

    monkeypatch.setattr(FactStore, "_mk_block", mk_block)
    return blocks


def _generic(spark):
    # symmetry over one fact: round 1 derives (y p x), round 2 re-derives
    # (x p y) and appends an empty block — the injected fault fires there
    facts = spark.createDataFrame(
        [("x", "p", "y", "g")], "s string, p string, o string, g string"
    )
    rules = [Rule.create([[U("a"), B("p"), U("b"), U("g")]],
                         [[U("b"), B("p"), U("a"), U("g")]])]
    infer_df(spark, facts, rules)


CHAIN = [(f"n{i}", "p", f"n{i + 1}", "g") for i in range(6)]
# linear TC of p into q: alone it routes to tc.smart_tc_fixpoint
TC_RULES = [
    Rule.create([[U("a"), B("p"), U("b"), U("g")]],
                [[U("a"), B("q"), U("b"), U("g")]]),
    Rule.create(
        [[U("a"), B("p"), U("b"), U("g")], [U("b"), B("q"), U("c"), U("g")]],
        [[U("a"), B("q"), U("c"), U("g")]],
    ),
]
# a rule whose body predicate never occurs keeps TC_RULES on the generic loop
INERT = Rule.create([[U("a"), B("inert"), U("b"), U("g")]],
                    [[U("a"), B("inert_seen"), U("b"), U("g")]])


def _smart_tc(spark):
    facts = spark.createDataFrame(CHAIN, "s string, p string, o string, g string")
    infer_df(spark, facts, TC_RULES)


def _pipeline(spark):
    # a few kB of input: small-input mode (codegen/AQE off, width sized
    # down from an unset 200) before the fixpoint's own regime
    run_pipeline(spark, code_files_df(spark, n_repos=1, n_modules=3, n_funcs=2))


@pytest.mark.parametrize("width", ["4", None], ids=["width_set", "width_unset"])
@pytest.mark.parametrize(
    "run", [_generic, _smart_tc, _pipeline], ids=["fixpoint", "smart_tc", "pipeline"]
)
def test_confs_restored_when_round_raises(
    spark, fail_second_append, built_blocks, run, width
):
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
        assert len(fail_second_append) == 2
        assert {k: spark.conf.get(k, None) for k in KEYS} == before
        # the store the failed call created is released with it
        assert built_blocks
        assert [b.storageLevel for b in built_blocks] == (
            [StorageLevel.NONE] * len(built_blocks)
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_caller_store_kept_when_round_raises(spark, fail_second_append):
    """A ``reuse_store`` belongs to the caller (the streaming live store):
    a round that raises leaves its blocks persisted."""
    schema = "s string, p string, o string, g string"
    store = FactStore(spark)
    store.seed(spark.createDataFrame([("x", "p", "y", "g")], schema))
    # first append: the batch the fixpoint takes as its worklist
    store.append(store.novel(spark.createDataFrame([("y", "p", "z", "g")], schema)))
    symmetry = Rule.create([[U("a"), B("p"), U("b"), U("g")]],
                           [[U("b"), B("p"), U("a"), U("g")]])
    lrules = [lower_rule(symmetry, 0, lambda t: t)]
    try:
        with pytest.raises(InjectedFault):
            fixpoint(spark, store.last_src, lrules, reuse_store=store)
        assert len(fail_second_append) == 2
        assert len(store.blocks) == 2
        assert [b.storageLevel for b in store.blocks] == (
            [StorageLevel.MEMORY_AND_DISK] * 2
        )
    finally:
        store.release()


@pytest.mark.parametrize(
    "rules, smart", [(TC_RULES + [INERT], False), (TC_RULES, True)],
    ids=["fixpoint", "smart_tc"],
)
def test_checkpoint_resume_after_round_fault(
    spark, tmp_path, monkeypatch, fail_second_append, rules, smart
):
    """A checkpointed run that raises in round 2 leaves round 1 committed;
    a resume without the fault continues from it to the exact closure."""
    facts = spark.createDataFrame(CHAIN, "s string, p string, o string, g string")
    cfg = InferConfig(checkpoint_dir=str(tmp_path / "ck"))
    with pytest.raises(InjectedFault):
        infer_df(spark, facts, rules, cfg)
    monkeypatch.undo()
    cfg.resume = True
    derived, res = infer_df(spark, facts, rules, cfg)
    assert res.resumed and res.metrics[0]["iteration"] == 1
    assert (res.metrics[0].get("strategy") == "smart_tc") == smart
    got = set(CHAIN) | {tuple(r) for r in derived.collect()}
    assert got == naive_closure(CHAIN, rules)


def _spy_persist(spark, monkeypatch) -> list:
    """Every DataFrame persisted from now on, in persist order."""
    # the session's concrete DataFrame class (pyspark.sql.DataFrame is its
    # abstract base, so patching that would miss every call)
    DataFrame = type(spark.range(1))
    persisted = []
    real_persist = DataFrame.persist

    def persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", persist)
    return persisted


def test_finished_calls_release_their_store(spark, monkeypatch):
    """``infer`` and ``prove`` collect their rows and the session warm-up
    writes its derived set to a no-op sink; nothing reads the fact store
    afterwards, so every block it persisted is unpersisted — on the generic
    loop, on smart TC and when no proof exists."""
    persisted = _spy_persist(spark, monkeypatch)
    monkeypatch.setattr(spark, "_rify_warmed", False)
    monkeypatch.delenv("RIFY_SESSION_WARMUP", raising=False)
    _warm_session(spark)
    assert infer(spark, CHAIN, TC_RULES + [INERT])
    assert infer(spark, CHAIN, TC_RULES)
    assert prove(spark, CHAIN, [("n0", "q", "n6", "g")], TC_RULES)
    with pytest.raises(ExhaustedSearchSpace):
        prove(spark, CHAIN, [("n6", "q", "n0", "g")], TC_RULES)
    assert persisted
    assert [df.storageLevel for df in persisted] == (
        [StorageLevel.NONE] * len(persisted)
    )


def _path(spark, n, cols="s string, o string"):
    return spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(n)], cols
    )


def _source(spark):
    return spark.createDataFrame([("n0",)], "node string")


# (loop, DataFrame method it calls once per round, the call that is in
# round 2, DataFrames it persists). BFS, SSSP and k-core test their
# round's frontier with one take(1) and cache their edge table; the CC
# kernel counts straddling edges once per round and only checkpoints;
# pagerank caches its node and edge tables, joins once before the loop
# and twice per iteration.
GRAPH_LOOPS = [
    ("bfs_levels", lambda s: bfs_levels(_path(s, 6), _source(s)), "take", 2, 1),
    (
        "sssp_distances",
        lambda s: sssp_distances(
            _path(s, 6).selectExpr("s", "o", "1 AS w"), _source(s)
        ),
        "take",
        2,
        1,
    ),
    ("kcore", lambda s: kcore(_path(s, 6), 2), "take", 2, 1),
    (
        "min_label_components",
        lambda s: min_label_components(_path(s, 12, "a string, b string")),
        "count",
        2,
        0,
    ),
    ("pagerank", lambda s: pagerank(_path(s, 6)), "join", 4, 2),
]


@pytest.mark.parametrize(
    "run, method, nth, n_persisted",
    [c[1:] for c in GRAPH_LOOPS],
    ids=[c[0] for c in GRAPH_LOOPS],
)
def test_graph_loop_unpersists_when_round_raises(
    spark, monkeypatch, run, method, nth, n_persisted
):
    persisted = _spy_persist(spark, monkeypatch)
    DataFrame = type(spark.range(1))
    real = getattr(DataFrame, method)
    calls = []

    def fail_in_round_2(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == nth:
            raise InjectedFault(f"injected: {method} call {nth}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, method, fail_in_round_2)
    with pytest.raises(InjectedFault):
        run(spark)
    assert len(calls) == nth
    assert len(persisted) == n_persisted
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
