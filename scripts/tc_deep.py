"""Deep-recursion closure evidence for the smart-TC strategy (tc.py).

A dependency chain D links deep is the adversarial input for set-at-a-time
Datalog: the generic semi-naive loop needs exactly D iterations, so at real
depths (software dependency chains, citation chains, org hierarchies run
10^3-10^5) the per-iteration driver floor alone dominates regardless of
cluster size. Smart TC closes the same input in ceil(log2 D)+2 rounds with
O(|closure|) total join output.

This harness runs, on one chain of DEPTH links (closure = D*(D+1)/2 pairs):

  * smart TC on the LINEAR two-rule program (anc <- parent; anc <- parent,anc)
  * smart TC on the NONLINEAR pair (anc <- parent; anc <- anc,anc)
  * the generic loop on the same input, truncated at FLOOR_ITERS iterations,
    to measure the honest per-iteration floor on THIS box — reported as a
    projection (floor x DEPTH), since actually running DEPTH iterations
    would take hours by construction.

Exactness: the smart runs assert closure row count == D*(D+1)/2 and spot
verify pair membership; the truncated generic run asserts its per-iteration
delta is exactly D - it (each round adds the paths one link longer).

Writes TC_DEEP.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEPTH = int(os.environ.get("RIFY_TC_DEPTH", "8192"))
FLOOR_ITERS = int(os.environ.get("RIFY_TC_FLOOR_ITERS", "16"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
OUT = os.path.join(REPO, "TC_DEEP.json")


def _rules(shape: str):
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    copy = Rule.create(
        [[U("a"), B("parent"), U("b"), U("g")]],
        [[U("a"), B("anc"), U("b"), U("g")]],
    )
    if shape == "linear":
        rec = Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")],
             [U("b"), B("anc"), U("c"), U("g")]],
            [[U("a"), B("anc"), U("c"), U("g")]],
        )
    else:
        rec = Rule.create(
            [[U("a"), B("anc"), U("b"), U("g")],
             [U("b"), B("anc"), U("c"), U("g")]],
            [[U("a"), B("anc"), U("c"), U("g")]],
        )
    return [copy, rec]


def main() -> None:
    from pyspark.sql import functions as F

    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    # chain built executor-side: n_i -parent-> n_{i+1}, one graph
    chain = (
        spark.range(DEPTH)
        .select(
            F.concat(F.lit("n"), F.col("id")).alias("s"),
            F.lit("parent").alias("p"),
            F.concat(F.lit("n"), F.col("id") + 1).alias("o"),
            F.lit("g0").alias("g"),
        )
        .persist()
    )
    chain.count()
    # every anc pair is derived (inputs are parent edges): D*(D+1)/2
    expected = DEPTH * (DEPTH + 1) // 2

    out: dict = {
        "depth": DEPTH,
        "closure_pairs": DEPTH * (DEPTH + 1) // 2,
        "cpus": CPUS,
        "runs": {},
    }

    for shape in ("linear", "nonlinear"):
        t0 = time.time()
        derived, res = infer_df(spark, chain, _rules(shape), InferConfig())
        n = derived.count()
        wall = time.time() - t0
        assert n == expected, (shape, n, expected)
        # spot-check the single longest path
        assert (
            derived.filter(
                (F.col("s") == "n0")
                & (F.col("o") == f"n{DEPTH}")
                & (F.col("p") == "anc")
            ).count()
            == 1
        )
        strategies = {m.get("strategy") for m in res.metrics}
        assert "smart_tc" in strategies, strategies
        out["runs"][f"smart_{shape}"] = {
            "derived_rows": n,
            "iterations": res.iterations,
            "wall_s": round(wall, 2),
            "rows_per_s": round(n / wall),
        }
        print(f"smart_{shape}: {n} rows, {res.iterations} iters, {wall:.1f}s")

    # generic loop, truncated: measures the real per-iteration floor. A
    # third, inert rule (its body predicate never occurs, so its seed plans
    # are pruned as predicate-dead) keeps the linear program off smart TC.
    inert = Rule.create(
        [[U("a"), B("inert"), U("b"), U("g")]],
        [[U("a"), B("inert_seen"), U("b"), U("g")]],
    )
    t0 = time.time()
    derived, res = infer_df(
        spark,
        chain,
        _rules("linear") + [inert],
        InferConfig(max_iterations=FLOOR_ITERS),
    )
    derived.count()
    wall = time.time() - t0
    # round 1 copies D edges; round it>=2 adds the D-(it-1) paths of length it
    deltas = [m["delta_rows"] for m in res.metrics if "delta_rows" in m]
    assert deltas[0] == DEPTH and all(
        d == DEPTH - i for i, d in enumerate(deltas[1:], start=1)
    ), deltas[:5]
    per_iter = wall / res.iterations
    out["runs"]["generic_truncated"] = {
        "iterations": res.iterations,
        "wall_s": round(wall, 2),
        "per_iteration_s": round(per_iter, 3),
        "projected_full_depth_s": round(per_iter * DEPTH),
        "note": (
            "generic semi-naive needs one iteration per chain link; "
            "projection = measured per-iteration floor x depth (join work "
            "per iteration is ~constant on a chain, so the floor projection "
            "is a LOWER bound)"
        ),
    }
    sm = out["runs"]["smart_linear"]
    out["speedup_vs_generic_projection"] = round(
        out["runs"]["generic_truncated"]["projected_full_depth_s"]
        / sm["wall_s"]
    )
    print(json.dumps(out, indent=2))
    with open(OUT, "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
