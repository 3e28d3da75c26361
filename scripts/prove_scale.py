"""Prove-mode (lineage-carrying) fixpoint at tree scale.

VERDICT item 6's acceptance probe: run the goal-directed lineage fixpoint
over a RIFY_PROVE_TREE_N-node tree, prove the deepest node's ancestry to
the root, and report per-iteration walls + the arguments-table size. The
first-wins window rides the candidate set's single (s, store-width)
exchange (subset clustering — see infer.py), so lineage maintenance adds
no extra per-iteration shuffle of the delta.

Writes PROVE_RUN.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TREE_N = int(os.environ.get("RIFY_PROVE_TREE_N", "1000000"))
CPUS = int(os.environ.get("RIFY_PROVE_CPUS", "16"))
HEAP = os.environ.get("RIFY_PROVE_HEAP", "32g")


def main() -> None:
    from pyspark.sql import functions as F

    from rify_spark.infer import InferConfig, seed_facts
    from rify_spark.prove import prove_fixpoint
    from rify_spark.rules import Bound as B, Rule, Unbound as U, lower_rule
    from rify_spark.session import get_spark
    import __spark_entry__ as entrymod

    os.environ.setdefault("RIFY_DRIVER_MEMORY", HEAP)
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name=f"rify-prove-scale-{TREE_N}",
        shuffle_partitions=2 * CPUS,
    )
    entrymod._ship(spark)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    edges = spark.range(1, TREE_N, 1, 2 * CPUS).select(
        F.concat(F.lit("node:"), F.col("id")).alias("s"),
        F.lit("parent").alias("p"),
        F.concat(F.lit("node:"), (F.col("id") / 2).cast("long")).alias("o"),
        F.lit("g").alias("g"),
    )
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("ancestor"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("ancestor"), U("b"), U("g")],
                [U("b"), B("ancestor"), U("c"), U("g")],
            ],
            [[U("a"), B("ancestor"), U("c"), U("g")]],
        ),
    ]
    # string engine path: goal terms must match the seed's value space
    cfg = InferConfig()
    lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
    goal = (f"node:{TREE_N - 1}", "ancestor", "node:1", "g")
    goals_df = spark.createDataFrame(
        [goal], "s string, p string, o string, g string"
    )
    prem = edges.select("s", "p", "o", "g")
    prem_dedup = prem.dropDuplicates(["s", "p", "o", "g"])
    facts0 = seed_facts(spark, prem, lrules, "string")

    t0 = time.time()
    res = prove_fixpoint(spark, facts0, prem_dedup, goals_df, lrules, cfg, "string")
    goal_found = goals_df.join(res.facts, ["s", "p", "o", "g"], "left_semi").count()
    args_rows = res.arguments.count()
    wall = time.time() - t0

    # VERDICT r4 ask #8: end-to-end proof extraction at the DEFAULT
    # COLLECT_ARGUMENTS_MAX_ROWS — the arguments table (~19M rows) is far
    # above the 1M threshold, so the iterative frontier join MUST engage;
    # then replay the proof through validate() and assert it implies the
    # goal (the round-trip the unit test only exercises at threshold 0).
    from rify_spark.prove import collect_reachable_arguments, recall_proof
    from rify_spark.rules import RuleApplication
    from rify_spark.validate import validate

    t1 = time.time()
    frontier_metrics: dict = {}
    args = collect_reachable_arguments(
        spark, res.arguments, [goal], lrules, "string",
        metrics=frontier_metrics,
    )
    lproof = recall_proof([goal], args, lrules)
    assert frontier_metrics.get("path") == "frontier", frontier_metrics
    proof = [
        RuleApplication(app.rule_index, list(app.instantiations))
        for app in lproof
    ]
    valid = validate(rules, proof)
    assert goal in valid.implied, "proof does not imply the goal"
    assert all(q[1] == "parent" for q in valid.assumed), (
        "proof assumed a non-premise quad"
    )
    extract_wall = time.time() - t1

    out = {
        "tree_n": TREE_N,
        "tree_edges": TREE_N - 1,
        "cpus": CPUS,
        "heap": HEAP,
        "mode": "prove (lineage + goal early-exit)",
        "goal": list(goal),
        "goal_found": bool(goal_found),
        "iterations": res.iterations,
        "facts_rows": res.facts_rows,
        "arguments_rows": args_rows,
        "wall_s": round(wall, 1),
        "lineage_rows_per_sec": round(args_rows / wall, 1),
        "proof_extraction": {
            "frontier": frontier_metrics,
            "proof_steps": len(proof),
            "validated_implied_rows": len(valid.implied),
            "validated_assumed_rows": len(valid.assumed),
            "goal_implied": True,
            "wall_s": round(extract_wall, 1),
        },
        "iter_metrics": res.metrics,
    }
    with open(os.path.join(REPO, "PROVE_RUN.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps({k: v for k, v in out.items() if k != "iter_metrics"}))


if __name__ == "__main__":
    main()
