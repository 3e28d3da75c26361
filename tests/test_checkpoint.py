"""Resumable-fixpoint tests: parquet iteration checkpoints + mid-fixpoint
resume (the north rule's per-iteration lineage/metrics requirement)."""

import json
import os
import sys

import pytest

from rify_spark.infer import InferConfig, fixpoint, seed_facts
from rify_spark.rules import Bound as B, Rule, Unbound as U, lower_rule

DG = "dg"
SCHEMA = "s string, p string, o string, g string"


def _chain_setup(spark, n=12):
    nodes = [f"n{i}" for i in range(n)]
    rows = [(a, "parent", b, DG) for a, b in zip(nodes, nodes[1:])]
    facts = spark.createDataFrame(rows, SCHEMA)
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
    expected = {
        (nodes[i], "anc", nodes[j], DG)
        for i in range(n)
        for j in range(i + 1, n)
    }
    return facts, lrules, expected


def test_checkpointed_fixpoint_writes_lineage(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    facts, lrules, expected = _chain_setup(spark)
    cfg = InferConfig(checkpoint_dir=ckdir)
    res = fixpoint(spark, seed_facts(spark, facts, lrules, "string"), lrules, cfg)
    got = {tuple(r) for r in res.facts.collect()}
    assert expected <= got
    iters = sorted(d for d in os.listdir(ckdir) if d.startswith("iter="))
    assert len(iters) >= 2
    meta = json.load(open(os.path.join(ckdir, iters[-1], "meta.json")))
    # per-partition lineage + metrics recorded
    assert {"iteration", "facts_rows", "delta_rows", "delta_partitions"} <= set(meta)


def test_resume_from_mid_fixpoint(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    facts, lrules, expected = _chain_setup(spark)
    facts0 = seed_facts(spark, facts, lrules, "string")

    # run 1: killed after 2 iterations (max_iterations simulates the crash)
    partial_cfg = InferConfig(checkpoint_dir=ckdir, max_iterations=2)
    partial = fixpoint(spark, facts0, lrules, partial_cfg)
    assert partial.iterations == 2
    partial_facts = {tuple(r) for r in partial.facts.collect()}
    assert not expected <= partial_facts  # genuinely unfinished

    # run 2: resume picks up the latest complete checkpoint and finishes
    resume_cfg = InferConfig(checkpoint_dir=ckdir, resume=True)
    res = fixpoint(spark, facts0, lrules, resume_cfg)
    got = {tuple(r) for r in res.facts.collect()}
    assert expected <= got
    assert res.metrics[0].get("resumed") is True
    # resumed run continued from iteration 3, not from scratch
    assert all(m["iteration"] >= 2 for m in res.metrics)


def _linear_tc_setup(spark, n=12):
    """A linear TC pair with a variable graph slot (the smart-TC program)
    over an n-node chain."""
    rows = [(f"n{i}", "parent", f"n{i + 1}", DG) for i in range(n - 1)]
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("anc"), U("b"), U("g")]],
        ),
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")],
             [U("b"), B("anc"), U("c"), U("g")]],
            [[U("a"), B("anc"), U("c"), U("g")]],
        ),
    ]
    lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
    return spark.createDataFrame(rows, SCHEMA), lrules, None


@pytest.mark.parametrize(
    "setup, loop",
    [(_chain_setup, "fixpoint"), (_linear_tc_setup, "smart_tc_fixpoint")],
    ids=["generic", "smart_tc"],
)
def test_resume_reads_row_count_from_meta(spark, tmp_path, monkeypatch, setup, loop):
    """A resume takes the newest iteration's row count (``delta_rows`` /
    ``d_rows``) from meta.json: the loop itself starts no count job. The
    resumed run stops at the same iteration cap, so it runs no round."""
    ckdir = str(tmp_path / "ck")
    facts, lrules, _ = setup(spark)
    facts0 = seed_facts(spark, facts, lrules, "string")
    cfg = InferConfig(checkpoint_dir=ckdir, max_iterations=2)
    assert fixpoint(spark, facts0, lrules, cfg).iterations == 2

    DataFrame = type(spark.range(1))
    real_count = DataFrame.count
    callers = []

    def count(self):
        callers.append(sys._getframe(1).f_code.co_name)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", count)
    cfg = InferConfig(checkpoint_dir=ckdir, max_iterations=2, resume=True)
    res = fixpoint(spark, facts0, lrules, cfg)
    assert res.resumed and res.iterations == 2
    assert loop not in callers


def test_resume_refuses_mismatched_fingerprint(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    facts, lrules, _ = _chain_setup(spark)
    facts0 = seed_facts(spark, facts, lrules, "string")
    partial_cfg = InferConfig(checkpoint_dir=ckdir, max_iterations=1)
    fixpoint(spark, facts0, lrules, partial_cfg)

    # same directory, different rule set -> refuse to resume
    other = [
        lower_rule(
            Rule.create(
                [[U("a"), B("parent"), U("b"), B(DG)]],
                [[U("b"), B("child_of"), U("a"), B(DG)]],
            ),
            0,
            lambda t: t,
        )
    ]
    resume_cfg = InferConfig(checkpoint_dir=ckdir, resume=True)
    with pytest.raises(ValueError, match="different job"):
        fixpoint(spark, seed_facts(spark, facts, other, "string"), other, resume_cfg)


def test_prove_mode_resume_reconstructs_arguments(spark, tmp_path):
    """Lineage checkpoints are delta-incremental: full arguments.parquet only
    at base iterations, args_delta.parquet elsewhere; resume reconstructs
    the complete lineage (one argument row per derived quad)."""
    ckdir = str(tmp_path / "ck")
    facts, lrules, expected = _chain_setup(spark)
    facts0 = seed_facts(spark, facts, lrules, "string")

    partial_cfg = InferConfig(checkpoint_dir=ckdir, max_iterations=2)
    partial = fixpoint(spark, facts0, lrules, partial_cfg, lineage=True)
    assert partial.iterations == 2

    # layout: base lineage at iter 1, per-iteration lineage deltas after
    assert os.path.exists(os.path.join(ckdir, "iter=00001", "arguments.parquet"))
    assert os.path.exists(os.path.join(ckdir, "iter=00002", "args_delta.parquet"))
    assert not os.path.exists(os.path.join(ckdir, "iter=00002", "arguments.parquet"))

    resume_cfg = InferConfig(checkpoint_dir=ckdir, resume=True)
    res = fixpoint(spark, facts0, lrules, resume_cfg, lineage=True)
    args = {tuple(r)[:4] for r in res.arguments.collect()}
    assert args == expected  # exactly one argument row per derived quad
    assert res.arguments.count() == len(expected)


def test_checkpoint_pruned_to_newest_base_and_still_resumes(spark, tmp_path):
    """After each base commit, iterations older than the base are pruned
    (storage bounded at O(store + one compaction interval), not
    O(history)) — and a resume over the pruned directory still lands the
    exact closure."""
    ckdir = str(tmp_path / "ck")
    facts, lrules, expected = _chain_setup(spark)
    partial_cfg = InferConfig(
        checkpoint_dir=ckdir,
        store_compact_every=2,
        max_iterations=3,
    )
    fixpoint(spark, seed_facts(spark, facts, lrules, "string"), lrules, partial_cfg)
    iters = sorted(
        int(d.split("=")[1]) for d in os.listdir(ckdir) if d.startswith("iter=")
    )
    # bases at 1 and 3 (compact_every=2): iterations 1-2 pruned at the
    # iteration-3 base commit
    assert iters == [3]
    assert json.load(open(os.path.join(ckdir, "iter=00003", "meta.json")))[
        "has_facts"
    ]
    resume_cfg = InferConfig(
        checkpoint_dir=ckdir,
        store_compact_every=2,
        resume=True,
    )
    res = fixpoint(spark, seed_facts(spark, facts, lrules, "string"), lrules, resume_cfg)
    assert res.resumed and res.metrics[0]["iteration"] == 3
    assert expected <= {tuple(r) for r in res.facts.collect()}


def test_checkpoint_retain_history_keeps_everything(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    facts, lrules, _ = _chain_setup(spark)
    cfg = InferConfig(
        checkpoint_dir=ckdir,
        store_compact_every=2,
        max_iterations=3,
        checkpoint_retain_history=True,
    )
    fixpoint(spark, seed_facts(spark, facts, lrules, "string"), lrules, cfg)
    iters = sorted(
        int(d.split("=")[1]) for d in os.listdir(ckdir) if d.startswith("iter=")
    )
    assert iters == [1, 2, 3]


def test_pruned_lineage_resume_repoints_arguments(spark, tmp_path):
    """The hazard pruning must not introduce: a RESUMED prove-mode run
    carries a lazy parquet-backed arguments base from the OLD iteration
    dirs; when the resumed run commits a new base and prunes them, the
    lineage union must have been re-pointed at the new base parquet —
    otherwise the next base write / post-run res.arguments consumers
    re-read deleted files."""
    ckdir = str(tmp_path / "ck")
    facts, lrules, expected = _chain_setup(spark)
    facts0 = seed_facts(spark, facts, lrules, "string")
    partial_cfg = InferConfig(
        checkpoint_dir=ckdir,
        store_compact_every=2,
        max_iterations=3,
    )
    fixpoint(spark, facts0, lrules, partial_cfg, lineage=True)
    resume_cfg = InferConfig(
        checkpoint_dir=ckdir,
        store_compact_every=2,
        resume=True,
    )
    res = fixpoint(spark, facts0, lrules, resume_cfg, lineage=True)
    assert res.resumed
    # the resumed run committed at least one new base (iterations 5+), so
    # the pre-resume dirs are gone...
    iters = sorted(
        int(d.split("=")[1]) for d in os.listdir(ckdir) if d.startswith("iter=")
    )
    assert min(iters) > 3
    # ...and the full lineage is still consumable — one row per derived quad
    args = {tuple(r)[:4] for r in res.arguments.collect()}
    assert args == expected
    assert res.arguments.count() == len(expected)
