"""Randomized insert/retract walk soak: the IncrementalReasoner driven by a
seeded random sequence of assert and retract batches, with the store checked
against the independent pure-Python reference evaluator
(rify_spark/reference.py) after EVERY batch.

The structured soaks (STREAM_RUN, RETRACT_RUN) use tree workloads with
closed-form expectations; this one walks the state space adversarially —
re-asserting retracted premises, retracting freshly-inserted ones, empty
batches, overlapping duplicates — under a mixed ruleset (transitivity,
symmetry, cross-predicate bridge, an unconditional head). Exactness after
every batch means the incremental store NEVER drifts from
closure(current premises), which is the IVM contract.

Writes RANDOM_WALK_SOAK.json. Seeded (default 5); runtime a few minutes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SEED = int(os.environ.get("RIFY_WALK_SEED", "5"))
BATCHES = int(os.environ.get("RIFY_WALK_BATCHES", "40"))
CPUS = int(os.environ.get("RIFY_WALK_CPUS", "8"))

DG = "g"
SCHEMA = "s string, p string, o string, g string"


def main() -> None:
    from rify_spark.reference import naive_closure
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.session import get_spark
    from rify_spark.streaming import IncrementalReasoner

    rules = [
        # transitive closure on `anc`
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), B(DG)],
                [U("b"), B("anc"), U("c"), B(DG)],
            ],
            [[U("a"), B("anc"), U("c"), B(DG)]],
        ),
        # parent feeds anc
        Rule.create(
            [[U("a"), B("parent"), U("b"), B(DG)]],
            [[U("a"), B("anc"), U("b"), B(DG)]],
        ),
        # `near` is symmetric
        Rule.create(
            [[U("a"), B("near"), U("b"), B(DG)]],
            [[U("b"), B("near"), U("a"), B(DG)]],
        ),
        # bridge: near neighbors of an ancestor are `kin`
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), B(DG)],
                [U("b"), B("near"), U("c"), B(DG)],
            ],
            [[U("a"), B("kin"), U("c"), B(DG)]],
        ),
        # unconditional head (never deletable)
        Rule.create([], [[B("root"), B("is"), B("axiom"), B(DG)]]),
    ]

    rng = random.Random(SEED)
    nodes = [f"n{i}" for i in range(20)]

    def rand_quad():
        p = rng.choice(["parent", "near", "anc"])
        return (rng.choice(nodes), p, rng.choice(nodes), DG)

    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="rify-random-walk-soak",
        shuffle_partitions=2 * CPUS,
    )
    # the store's premise directory and layout record sit beside it
    base = tempfile.mkdtemp(prefix="rify-walk-")
    store_dir = os.path.join(base, "store")
    r = IncrementalReasoner(spark, rules, store_dir)
    premises: set = set()
    walls = []
    max_store = 0
    t_all = time.time()
    try:
        for k in range(BATCHES):
            t0 = time.time()
            if premises and rng.random() < 0.35:
                # retract batch: mostly current premises, some junk/dupes
                n = rng.randint(1, min(6, len(premises)))
                batch = rng.sample(sorted(premises), n)
                if rng.random() < 0.3:
                    batch.append(rand_quad())  # may or may not be a premise
                df = spark.createDataFrame(batch, SCHEMA)
                r.retract_batch(df)
                premises -= set(batch)
                kind = f"retract({len(batch)})"
            else:
                n = rng.randint(0, 5)
                batch = [rand_quad() for _ in range(n)]
                df = spark.createDataFrame(batch, SCHEMA)
                r.process_batch(df, k)
                premises |= set(batch)
                kind = f"insert({len(batch)})"
            got = {tuple(x) for x in r.facts().collect()}
            want = naive_closure(premises, rules)
            assert got == want, (
                f"batch {k} ({kind}): store diverged — "
                f"{len(got - want)} extra, {len(want - got)} missing"
            )
            max_store = max(max_store, len(got))
            walls.append(round(time.time() - t0, 2))
            print(f"batch {k:2d} {kind:12s} store={len(got):5d} exact "
                  f"{walls[-1]}s", flush=True)
        art = {
            "seed": SEED,
            "batches": BATCHES,
            "final_premises": len(premises),
            "final_store_rows": len(got),
            "max_store_rows": max_store,
            "exact_after_every_batch": True,
            "mean_batch_wall_s": round(sum(walls) / len(walls), 2),
            "max_batch_wall_s": max(walls),
            "total_wall_s": round(time.time() - t_all, 1),
            "batch_walls": walls,
        }
        # append-run semantics: the artifact accumulates {"runs": [...]}
        # across seeds/batch-counts instead of each invocation clobbering
        # the previous evidence
        apath = os.path.join(REPO, "RANDOM_WALK_SOAK.json")
        merged = {"runs": []}
        if os.path.exists(apath):
            try:
                prev = json.load(open(apath))
                merged["runs"] = prev["runs"] if "runs" in prev else [prev]
            except (json.JSONDecodeError, KeyError):
                pass
        merged["runs"] = [
            r for r in merged["runs"]
            if (r.get("seed"), r.get("batches")) != (SEED, BATCHES)
        ] + [art]
        merged["exact_after_every_batch"] = all(
            r.get("exact_after_every_batch") for r in merged["runs"]
        )
        with open(apath, "w") as f:
            json.dump(merged, f, indent=1)
        print(json.dumps({k: v for k, v in art.items() if k != "batch_walls"}))
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
