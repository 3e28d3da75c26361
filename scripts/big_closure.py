"""Memory-bounded large-closure demonstration (the 100-TB design probe).

Runs the ancestry-closure fixpoint over a RIFY_BIG_TREE_N-node tree (default
10M nodes => ~218M derived quads) through the full production path: the
default string-term fixpoint, FactStore blocked/compacted store,
delta-incremental parquet checkpoints, cores-aware broadcast cutoff. The point is not the wall
clock — it is that executor memory stays ~O(store) (compaction drops
superseded delta checkpoints; blocks spill MEMORY_AND_DISK) at a scale where
round 1's grow-forever checkpoint union could not fit.

Writes BIGRUN.json at the repo root and prints one JSON line:
  {tree_n, derived, iterations, wall_s, triples_per_sec,
   iter_metrics: [...], peak_shm_gb, checkpoint_dir_gb}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TREE_N = int(os.environ.get("RIFY_BIG_TREE_N", "10000000"))
CPUS = int(os.environ.get("RIFY_BIG_CPUS", "16"))
HEAP = os.environ.get("RIFY_BIG_HEAP", "40g")
CKPT = os.environ.get(
    "RIFY_BIG_CKPT", f"/tmp/rify_big_closure_ckpt_{TREE_N}"
)
# block-chain length before prefix compaction: a 7-iteration closure never
# reaches the default 8, so set <=4 to exercise compaction (and with it the
# partition-width growth path) on tree-closure workloads
COMPACT_EVERY = int(os.environ.get("RIFY_BIG_COMPACT_EVERY", "8"))
OUT = os.environ.get(
    "RIFY_BIG_OUT", os.path.join(REPO, "BIGRUN.json")
)


def _shm_used_gb() -> float:
    st = os.statvfs("/dev/shm")
    return round((st.f_blocks - st.f_bavail) * st.f_frsize / 2**30, 2)


def _dir_gb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return round(total / 2**30, 2)


def main() -> None:
    from pyspark.sql import functions as F

    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.session import get_spark
    import __spark_entry__ as entrymod

    os.environ.setdefault("RIFY_DRIVER_MEMORY", HEAP)
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name=f"rify-big-closure-{TREE_N}",
        shuffle_partitions=4 * CPUS,
    )
    entrymod._ship(spark)
    shutil.rmtree(CKPT, ignore_errors=True)

    edges = spark.range(1, TREE_N, 1, 4 * CPUS).select(
        F.concat(F.lit("node:"), F.col("id")).alias("s"),
        F.lit("parent").alias("p"),
        F.concat(F.lit("node:"), (F.col("id") / 2).cast("long")).alias("o"),
        F.lit("graph://tree").alias("g"),
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
        # generic-loop acceptance harness (row-triggered width growth, LSM
        # store bounds): a third, inert rule (its body predicate never
        # occurs, so its seed plans are pruned as predicate-dead) keeps the
        # program off smart TC — the run evaluates the same ~7-round
        # nonlinear program every historical BIGRUN/GROWTH artifact measured
        Rule.create(
            [[U("a"), B("inert"), U("b"), U("g")]],
            [[U("a"), B("inert_seen"), U("b"), U("g")]],
        ),
    ]
    cfg = InferConfig(
        checkpoint_dir=CKPT,
        store_compact_every=COMPACT_EVERY,
    )
    shm0 = _shm_used_gb()
    t0 = time.time()
    derived_df, fx = infer_df(spark, edges, rules, config=cfg)
    n = derived_df.count()
    wall = time.time() - t0

    out = {
        "tree_n": TREE_N,
        # spark.range(1, TREE_N) covers ids 1..TREE_N-1: one parent edge per
        # non-root node — report the actual edge count, not the node count
        "tree_edges": TREE_N - 1,
        "cpus": CPUS,
        "heap": HEAP,
        "derived": n,
        "iterations": fx.iterations,
        "wall_s": round(wall, 1),
        "triples_per_sec": round(n / wall, 1),
        "iter_metrics": fx.metrics,
        "shm_used_gb_start": shm0,
        "shm_used_gb_end": _shm_used_gb(),
        "checkpoint_dir_gb": _dir_gb(CKPT),
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
