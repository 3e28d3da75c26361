"""Profile the KG pipeline's serial floor at one parallelism.

Runs the 100k-file pipeline once on local[$CPUS] and prints stage walls,
per-iteration fixpoint walls, and the total — the feedback loop for cutting
the per-job driver floor (Catalyst optimization + action scheduling) that
caps pipeline strong scaling at small corpus sizes.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("RIFY_SCALING_CPUS", "8"))
CORPUS_PATH = os.environ.get(
    "RIFY_SCALING_CORPUS", "/tmp/rify_scaling_corpus_10000x10"
)


def main() -> None:
    from rify_spark.pipeline import run_pipeline
    from rify_spark.session import get_spark
    from rify_spark.infer import InferConfig

    extra = json.loads(os.environ.get("RIFY_PROF_EXTRA_CONF", "{}"))
    cfg_kw = json.loads(os.environ.get("RIFY_PROF_INFER_KW", "{}"))
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name=f"prof-pipeline-{CPUS}",
        shuffle_partitions=2 * CPUS,
        extra_conf=extra,
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    def _ident(it):
        for pdf in it:
            yield pdf

    spark.range(0, 1000, 1, 2 * CPUS).mapInPandas(_ident, "id long").count()

    pipe_kw = json.loads(os.environ.get("RIFY_PROF_PIPE_KW", "{}"))
    t0 = time.time()
    res = run_pipeline(
        spark,
        spark.read.parquet(CORPUS_PATH),
        infer_config=InferConfig(**cfg_kw) if cfg_kw else None,
        **pipe_kw,
    )
    derived = res.derived.count()
    wall = time.time() - t0
    out = {
        "cpus": CPUS,
        "pipeline_wall_s": round(wall, 2),
        "derived": derived,
        "tps": round(derived / wall, 1),
        "stage_walls": res.metrics.get("stage_walls", {}),
        "iterations": res.metrics.get("fixpoint_iterations"),
        "iter_walls": [
            m.get("wall_s") for m in res.metrics.get("iteration_metrics", [])
        ],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
