"""Transitive-closure programs: smart-TC detection (``tc.detect_tc``) and
evaluation.

Detection is unit-tested on lowered rules (no Spark); equivalence is pinned
against the engine-independent naive evaluator on randomized graphs with
cycles, multiple graphs, and bystander rules (which keep the user's rules
on the generic loop); iteration counts verify the O(log depth) win of smart
TC end-to-end.
"""

import random

import pytest

from rify_spark.reference import naive_closure
from rify_spark.tc import detect_tc
from rify_spark.rules import Bound as B, Rule, Unbound as U, lower_rule


def _lower(rules):
    return [lower_rule(r, i, lambda v: v) for i, r in enumerate(rules)]


def _linear_tc(edge="next", reach="reach", mirrored=False):
    body = [
        [U("a"), B(edge), U("b"), U("g")],
        [U("b"), B(reach), U("c"), U("g")],
    ]
    if mirrored:  # reach atom first: reach(a,b) ∧ edge(b,c) -> reach(a,c)
        body = [
            [U("a"), B(reach), U("b"), U("g")],
            [U("b"), B(edge), U("c"), U("g")],
        ]
    return [
        Rule.create([[U("a"), B(edge), U("b"), U("g")]],
                    [[U("a"), B(reach), U("b"), U("g")]]),
        Rule.create(body, [[U("a"), B(reach), U("c"), U("g")]]),
    ]


# ---------------------------------------------------------------- detection

def test_detects_both_body_orders():
    for mirrored, direction in ((False, "prepend"), (True, "append")):
        rec = detect_tc(_lower(_linear_tc(mirrored=mirrored)))
        assert rec == {
            "predicate": "reach",
            "edge_predicate": "next",
            "direction": direction,
            "shape": "linear",
        }
    # the same chain with its body atoms listed in the other order
    swapped = _linear_tc()
    swapped[1] = Rule.create(
        [[U("b"), B("reach"), U("c"), U("g")],
         [U("a"), B("next"), U("b"), U("g")]],
        [[U("a"), B("reach"), U("c"), U("g")]],
    )
    assert detect_tc(_lower(swapped))["direction"] == "prepend"
    # rule order does not matter either
    assert detect_tc(_lower(_linear_tc()[::-1]))["predicate"] == "reach"


def test_nonlinear_rule_is_left_alone():
    rules = [
        Rule.create([[U("a"), B("next"), U("b"), U("g")]],
                    [[U("a"), B("reach"), U("b"), U("g")]]),
        Rule.create([[U("a"), B("reach"), U("b"), U("g")],
                     [U("b"), B("reach"), U("c"), U("g")]],
                    [[U("a"), B("reach"), U("c"), U("g")]]),
    ]
    rec = detect_tc(_lower(rules))
    assert rec["shape"] == "nonlinear" and rec["direction"] == "prepend"


def test_third_rule_deriving_head_blocks_rewrite():
    rules = _linear_tc() + [
        Rule.create([[U("a"), B("alias"), U("b"), U("g")]],
                    [[U("a"), B("reach"), U("b"), U("g")]]),
    ]
    assert detect_tc(_lower(rules)) is None


def test_mismatched_edge_predicates_block_rewrite():
    rules = [
        Rule.create([[U("a"), B("other"), U("b"), U("g")]],
                    [[U("a"), B("reach"), U("b"), U("g")]]),
        _linear_tc()[1],
    ]
    assert detect_tc(_lower(rules)) is None


def test_variable_head_predicate_anywhere_blocks_rewrite():
    rules = _linear_tc() + [
        Rule.create([[U("s"), U("p"), U("o"), U("g")]],
                    [[U("o"), U("p"), U("s"), U("g")]]),
    ]
    assert detect_tc(_lower(rules)) is None


def test_inverted_copy_rule_blocks_rewrite():
    rules = [
        Rule.create([[U("a"), B("next"), U("b"), U("g")]],
                    [[U("b"), B("reach"), U("a"), U("g")]]),  # inverse, not copy
        _linear_tc()[1],
    ]
    assert detect_tc(_lower(rules)) is None


def test_graph_slot_mismatch_blocks_rewrite():
    rules = [
        _linear_tc()[0],
        Rule.create([[U("a"), B("next"), U("b"), U("g")],
                     [U("b"), B("reach"), U("c"), U("h")]],  # g != h
                    [[U("a"), B("reach"), U("c"), U("g")]]),
    ]
    assert detect_tc(_lower(rules)) is None


def test_constant_graph_slot_is_not_delegated():
    """A constant graph slot is not per-graph semantics: the program runs
    the user's rules on the generic loop."""
    rules = [
        Rule.create([[U("a"), B("next"), U("b"), B("g0")]],
                    [[U("a"), B("reach"), U("b"), B("g0")]]),
        Rule.create([[U("a"), B("next"), U("b"), B("g0")],
                     [U("b"), B("reach"), U("c"), B("g0")]],
                    [[U("a"), B("reach"), U("c"), B("g0")]]),
    ]
    assert detect_tc(_lower(rules)) is None


def test_broken_chain_variables_block_rewrite():
    rules = [
        _linear_tc()[0],
        Rule.create([[U("a"), B("next"), U("b"), U("g")],
                     [U("a"), B("reach"), U("c"), U("g")]],  # shares a, not b
                    [[U("a"), B("reach"), U("c"), U("g")]]),
    ]
    assert detect_tc(_lower(rules)) is None


# ------------------------------------------------------------- equivalence

def _closure_via_engine(spark, facts, rules):
    from rify_spark.api import infer

    return set(facts) | {tuple(q) for q in infer(spark, facts, rules)}


def _inert():
    """A rule whose body predicate never occurs: its seed plans are pruned
    as predicate-dead, and it keeps a TC program on the generic loop."""
    return Rule.create(
        [[U("a"), B("inert"), U("b"), U("g")]],
        [[U("a"), B("inert_seen"), U("b"), U("g")]],
    )


def _smart(res):
    return any(m.get("strategy") == "smart_tc" for m in res.metrics)


def test_chain_closure_parity_and_log_iterations(spark):
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    n = 24
    facts = [(f"n{i}", "next", f"n{i+1}", "g0") for i in range(n)]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    rules = _linear_tc()
    oracle = naive_closure(facts, rules)

    d_on, res_on = infer_df(spark, edges, rules, InferConfig())
    d_off, res_off = infer_df(spark, edges, rules + [_inert()], InferConfig())
    assert _smart(res_on) and not _smart(res_off)
    # smart TC: ceil(log2(24)) + 2 = 7; generic loop: one iteration per link
    assert res_on.iterations <= 8 < n <= res_off.iterations
    rows_on = {tuple(r) for r in d_on.collect()}
    rows_off = {tuple(r) for r in d_off.collect()}
    assert rows_on == rows_off == oracle - set(facts)


def test_random_graphs_parity_with_bystander_rules(spark):
    rng = random.Random(41)
    extra = Rule.create(
        [[U("a"), B("reach"), U("b"), U("g")]],
        [[U("b"), B("reached_by"), U("a"), U("g")]],
    )
    rules = _linear_tc() + [extra]
    for trial in range(4):
        nodes = [f"v{i}" for i in range(rng.randint(4, 9))]
        facts = sorted(
            {
                (rng.choice(nodes), "next", rng.choice(nodes), rng.choice(["g0", "g1"]))
                for _ in range(rng.randint(4, 14))
            }
        )
        oracle = naive_closure(facts, rules)
        got = _closure_via_engine(spark, facts, rules)
        assert got == oracle, f"trial {trial}"


def test_smart_tc_random_cyclic_graphs_parity(spark):
    """The pure two-rule program routes to the smart-TC strategy (tc.py);
    pin it against the naive evaluator on cyclic multi-graph inputs, both
    body orders (prepend: edge atom first; append: rec atom first)."""
    rng = random.Random(97)
    for trial in range(6):
        rules = _linear_tc(mirrored=bool(trial % 2))
        nodes = [f"v{i}" for i in range(rng.randint(3, 8))]
        facts = sorted(
            {
                (rng.choice(nodes), "next", rng.choice(nodes), rng.choice(["g0", "g1"]))
                for _ in range(rng.randint(3, 12))
            }
        )
        # force a cycle in at least one trial shape
        if trial >= 3:
            facts = sorted(set(facts) | {(nodes[0], "next", nodes[1], "g0"),
                                         (nodes[1], "next", nodes[0], "g0")})
        oracle = naive_closure(facts, rules)
        got = _closure_via_engine(spark, facts, rules)
        assert got == oracle, f"trial {trial}"


def test_smart_tc_premise_reach_facts_compose(spark):
    """Premise H-facts must participate: reach(n2,x) given as data, chain
    n0->n1->n2 — the closure must include n0->x via B^2 ∘ C0."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    facts = [
        ("n0", "next", "n1", "g0"),
        ("n1", "next", "n2", "g0"),
        ("n2", "reach", "x", "g0"),
    ]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    derived, res = infer_df(spark, edges, _linear_tc(), InferConfig())
    assert res.metrics[0]["strategy"] == "smart_tc"  # actually delegated
    got = {tuple(r) for r in derived.collect()}
    assert got == naive_closure(facts, _linear_tc()) - set(facts)
    assert ("n0", "reach", "x", "g0") in got


def test_smart_tc_engaged_with_checkpoint_dir(spark, tmp_path):
    """Checkpoint mode delegates too (smart TC persists store + D wavefront
    per round under its own fingerprint namespace); the directory must hold
    commit-marked iterations with a d.parquet each."""
    import os

    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    n = 10
    facts = [(f"n{i}", "next", f"n{i+1}", "g0") for i in range(n)]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    ck = str(tmp_path / "ck")
    derived, res = infer_df(
        spark, edges, _linear_tc(), InferConfig(checkpoint_dir=ck),
    )
    assert res.metrics[0]["strategy"] == "smart_tc"
    got = {tuple(r) for r in derived.collect()}
    assert got == naive_closure(facts, _linear_tc()) - set(facts)
    iters = sorted(d for d in os.listdir(ck) if d.startswith("iter="))
    assert iters
    for d in iters:
        assert os.path.exists(os.path.join(ck, d, "meta.json"))
        assert os.path.isdir(os.path.join(ck, d, "d.parquet"))


def test_smart_tc_checkpoint_metrics_count_wavefront(spark, tmp_path):
    """Checkpoint mode counts the D wavefront for meta.json; the same count
    lands in FixpointResult.metrics, so every round that added facts
    reports an integer d_rows equal to the one persisted."""
    import json
    import os

    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    facts = [(f"n{i}", "next", f"n{i+1}", "g0") for i in range(10)]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    ck = str(tmp_path / "ck")
    _, res = infer_df(
        spark, edges, _linear_tc(),
        InferConfig(checkpoint_dir=ck, checkpoint_retain_history=True),
    )
    rounds = [m for m in res.metrics if m["delta_rows"]]
    assert rounds and all(m["strategy"] == "smart_tc" for m in rounds)
    for m in rounds:
        assert isinstance(m["d_rows"], int)
        meta_path = os.path.join(ck, f"iter={m['iteration']:05d}", "meta.json")
        with open(meta_path) as f:
            assert json.load(f)["d_rows"] == m["d_rows"]


def test_smart_tc_checkpoint_resume_exact(spark, tmp_path):
    """Kill mid-run (max_iterations), resume: the completed rounds are not
    recomputed and the final closure is exact; a generic-loop checkpoint
    directory is refused (different strategy, different persisted state)."""
    import pytest

    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    n = 40
    facts = [(f"n{i}", "next", f"n{i+1}", "g0") for i in range(n)]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    ck = str(tmp_path / "ck")
    _, res1 = infer_df(
        spark, edges, _linear_tc(),
        InferConfig(checkpoint_dir=ck, max_iterations=3),
    )
    assert res1.iterations == 3 and res1.metrics[0]["strategy"] == "smart_tc"
    derived, res2 = infer_df(
        spark, edges, _linear_tc(),
        InferConfig(checkpoint_dir=ck, resume=True),
    )
    assert res2.resumed
    assert res2.metrics[0] == {
        "iteration": 3, "resumed": True, "strategy": "smart_tc",
        "delta_rows": res1.metrics[-1]["delta_rows"],
    }
    got = {tuple(r) for r in derived.collect()}
    assert got == naive_closure(facts, _linear_tc()) - set(facts)
    # total rounds across the two runs == one uninterrupted run's count
    fresh_ck = str(tmp_path / "ck2")
    _, res3 = infer_df(
        spark, edges, _linear_tc(), InferConfig(checkpoint_dir=fresh_ck),
    )
    assert res2.iterations == res3.iterations

    # strategy mismatch: a generic-loop dir (forced via a bystander rule)
    # must be refused on smart-TC resume
    bystander = Rule.create(
        [[U("a"), B("reach"), U("b"), U("g")]],
        [[U("b"), B("sees"), U("a"), U("g")]],
    )
    gen_ck = str(tmp_path / "ck3")
    infer_df(
        spark, edges, _linear_tc() + [bystander],
        InferConfig(checkpoint_dir=gen_ck),
    )
    with pytest.raises(ValueError, match="different job"):
        infer_df(
            spark, edges, _linear_tc(),
            InferConfig(checkpoint_dir=gen_ck, resume=True),
        )


def _nonlinear_tc():
    return [
        Rule.create([[U("a"), B("parent"), U("b"), U("g")]],
                    [[U("a"), B("anc"), U("b"), U("g")]]),
        Rule.create([[U("a"), B("anc"), U("b"), U("g")],
                     [U("b"), B("anc"), U("c"), U("g")]],
                    [[U("a"), B("anc"), U("c"), U("g")]]),
    ]


def test_nonlinear_pair_detected_smart_only():
    """The nonlinear TC pair is detected so the smart strategy can take it;
    with a bystander rule the program is not the pure pair and nothing is
    detected."""
    rec = detect_tc(_lower(_nonlinear_tc()))
    assert rec["shape"] == "nonlinear"
    assert rec["predicate"] == "anc" and rec["edge_predicate"] == "parent"

    bystander = Rule.create(
        [[U("a"), B("anc"), U("b"), U("g")]],
        [[U("b"), B("desc"), U("a"), U("g")]],
    )
    assert detect_tc(_lower(_nonlinear_tc() + [bystander])) is None


def test_nonlinear_smart_tc_random_parity_with_premise_h(spark):
    """Nonlinear programs DO compose premise H-facts ((C ∪ H0)+); the smart
    path must match the naive evaluator on random cyclic inputs that
    include them."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    rng = random.Random(23)
    for trial in range(4):
        nodes = [f"v{i}" for i in range(rng.randint(3, 7))]
        facts = sorted({
            (rng.choice(nodes), "parent", rng.choice(nodes), rng.choice(["g0", "g1"]))
            for _ in range(rng.randint(3, 10))
        })
        facts += [(nodes[0], "anc", nodes[-1], "g0"),
                  (nodes[-1], "anc", nodes[1], "g1")]
        edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
        derived, res = infer_df(spark, edges, _nonlinear_tc(), InferConfig())
        assert res.metrics[0]["strategy"] == "smart_tc"
        got = set(facts) | {tuple(r) for r in derived.collect()}
        assert got == naive_closure(facts, _nonlinear_tc()), f"trial {trial}"


def test_nonlinear_pair_generic_loop_when_not_delegatable(spark, tmp_path):
    """With a bystander rule the program is not the pure pair, so the
    nonlinear recursion must run the user's own rules on the generic loop
    with identical results."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    bystander = Rule.create(
        [[U("a"), B("anc"), U("b"), U("g")]],
        [[U("b"), B("desc"), U("a"), U("g")]],
    )
    facts = [(f"n{i}", "parent", f"n{i+1}", "g0") for i in range(6)]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    derived, res = infer_df(
        spark, edges, _nonlinear_tc() + [bystander],
        InferConfig(checkpoint_dir=str(tmp_path / "ck")),
    )
    assert not _smart(res)
    got = {tuple(r) for r in derived.collect()}
    assert got == naive_closure(facts, _nonlinear_tc() + [bystander]) - set(facts)


def test_premise_h_facts_block_generic_rewrite(spark):
    """Premises already containing composable H-facts: the linear program
    never derives H0∘H0, so reach(a,b), reach(b,c) with zero next edges
    must derive nothing reach-shaped. The bystander rule forces the
    generic loop, which runs the user's linear rule as written."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    bystander = Rule.create(
        [[U("a"), B("reach"), U("b"), U("g")]],
        [[U("b"), B("reached_by"), U("a"), U("g")]],
    )
    facts = [("a", "reach", "b", "g0"), ("b", "reach", "c", "g0")]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    rules = _linear_tc() + [bystander]
    derived, res = infer_df(spark, edges, rules, InferConfig())
    assert not _smart(res)
    got = {tuple(r) for r in derived.collect()}
    assert got == naive_closure(facts, rules) - set(facts)
    assert ("a", "reach", "c", "g0") not in got


def test_premise_h_facts_smart_path_is_exact(spark):
    """The smart-TC path composes B-powers onto the store, never H∘H, so
    it stays exact with composable premise H-facts (and derives nothing
    when there are no B edges at all)."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    facts = [("a", "reach", "b", "g0"), ("b", "reach", "c", "g0")]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    derived, res = infer_df(spark, edges, _linear_tc(), InferConfig())
    assert _smart(res)
    assert derived.count() == 0


def test_premise_h_facts_block_rewrite_in_checkpoint_mode(spark, tmp_path):
    """On the GENERIC path (bystander rule -> not delegatable), checkpoint
    mode included, premise H-facts are only B-prefixed, never composed
    with each other."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    # unrelated bystander (never fires): keeps the program off the smart
    # path without touching the closure
    bystander = Rule.create(
        [[U("a"), B("sees"), U("b"), U("g")]],
        [[U("a"), B("saw"), U("b"), U("g")]],
    )
    facts = [
        ("a", "reach", "b", "g0"),
        ("b", "reach", "c", "g0"),
        ("x", "next", "a", "g0"),
    ]
    edges = spark.createDataFrame(facts, "s string, p string, o string, g string")
    derived, res = infer_df(
        spark, edges, _linear_tc() + [bystander],
        InferConfig(checkpoint_dir=str(tmp_path / "ck")),
    )
    assert not _smart(res)
    got = {tuple(r) for r in derived.collect()}
    assert got == naive_closure(facts, _linear_tc()) - set(facts)
    # x B-prefixes both premise H-facts; a∘c composition must be absent
    assert ("x", "reach", "b", "g0") in got
    assert ("a", "reach", "c", "g0") not in got


def test_lineage_mode_keeps_user_rules(spark):
    """prove() must attribute the user's own linear rule — no rewrite —
    and the proof must still validate."""
    from rify_spark import api

    n = 6
    facts = [(f"n{i}", "next", f"n{i+1}", "g0") for i in range(n)]
    rules = _linear_tc()
    goal = [("n0", "reach", f"n{n}", "g0")]
    proof = api.prove(spark, facts, goal, rules)
    assert proof  # non-empty list of RuleApplications
    assert {s.rule_index for s in proof} <= {0, 1}
    valid = api.validate(rules, proof)
    assert tuple(goal[0]) in {tuple(q) for q in valid.implied}


def test_smart_tc_seed_subsumed_by_premises_still_composes(spark):
    """An empty ROUND 1 (copy image / wavefront seed entirely subsumed by
    premise H-facts) must not terminate smart TC before any composition ran
    — both shapes previously returned an incomplete fixpoint here."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    # nonlinear, no B-facts at all: seed = H0, round 1 adds nothing
    facts = [("a", "anc", "b", "g0"), ("b", "anc", "c", "g0")]
    e = spark.createDataFrame(facts, "s string, p string, o string, g string")
    d, res = infer_df(spark, e, _nonlinear_tc(), InferConfig())
    assert res.metrics[0]["strategy"] == "smart_tc"
    assert {tuple(r) for r in d.collect()} == {("a", "anc", "c", "g0")}

    # linear, every B edge shadowed by an identical-pair premise H-fact
    facts2 = [("a", "parent", "b", "g0"),
              ("a", "anc", "b", "g0"), ("b", "anc", "c", "g0")]
    e2 = spark.createDataFrame(facts2, "s string, p string, o string, g string")
    d2, res2 = infer_df(spark, e2, _linear_tc(), InferConfig())
    assert any(m.get("strategy") == "smart_tc" for m in res2.metrics)
    got = set(facts2) | {tuple(r) for r in d2.collect()}
    assert got == naive_closure(facts2, _linear_tc())


def test_nonlinear_detected_with_swapped_body_atoms(spark):
    """H(x,z) <- H(y,z), H(x,y) is the same program as the canonical order
    and must reach the smart strategy too."""
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig

    rules = [
        Rule.create([[U("a"), B("parent"), U("b"), U("g")]],
                    [[U("a"), B("anc"), U("b"), U("g")]]),
        Rule.create([[U("b"), B("anc"), U("c"), U("g")],
                     [U("a"), B("anc"), U("b"), U("g")]],
                    [[U("a"), B("anc"), U("c"), U("g")]]),
    ]
    assert detect_tc(_lower(rules))["shape"] == "nonlinear"
    facts = [(f"n{i}", "parent", f"n{i+1}", "g0") for i in range(7)]
    e = spark.createDataFrame(facts, "s string, p string, o string, g string")
    d, res = infer_df(spark, e, rules, InferConfig())
    assert res.metrics[0]["strategy"] == "smart_tc"
    got = set(facts) | {tuple(r) for r in d.collect()}
    assert got == naive_closure(facts, rules)
