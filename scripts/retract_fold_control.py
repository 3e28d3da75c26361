"""Engine-free control for the retraction scaling pair -> RETRACT_CONTROL.json.

RETRACT_SCALING_2M measures the DRed path at 2 vs 8 cores. This control
re-creates the same *physical* work with no engine code — synthetic
quads-shaped longs, same job shapes, same session confs — so the pair's
efficiency can be split into (engine residual) x (machine ceiling), the
same methodology as TAIL_CONTROL.json (weak-scaling ceiling) and
STREAM_SCAN_CONTROL.json (IVM scan floor).

Per mirrored "retract op" against a cached, s-partitioned, sorted store of
STORE_ROWS rows (the FactStore block layout):

  1. over-delete rounds (3x): broadcast the cone-key set, left-semi probe
     the store, dropDuplicates the cone-sized result, eager localCheckpoint
     + count — the shape of the delta-seeded bindings rounds.
  2. subtract (1x): store -> left_anti(broadcast cone) -> lazy
     localCheckpoint -> repartition(width, "s") -> sortWithinPartitions ->
     persist -> count — the exact fold of FactStore.rebuild over
     retract.subtract_plan.
  3. re-derive rounds (2x): broadcast cone inner-joined to the store on s,
     project + dropDuplicates + eager localCheckpoint + count — the
     goal-directed probe shape.

Efficiency = best-of interleaved walls, as in scripts/retract_scaling.py.
Env: RIFY_RFC_STORE_ROWS (35_400_000), RIFY_RFC_CONES ("2095143,1311118"),
RIFY_RFC_LO/HI (2/8), RIFY_RFC_REPEATS (2), RIFY_RFC_OUT.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STORE_ROWS = int(os.environ.get("RIFY_RFC_STORE_ROWS", "35400000"))
CONES = [
    int(x)
    for x in os.environ.get("RIFY_RFC_CONES", "2095143,1311118").split(",")
]
CPU_LO = int(os.environ.get("RIFY_RFC_LO", "2"))
CPU_HI = int(os.environ.get("RIFY_RFC_HI", "8"))
REPEATS = int(os.environ.get("RIFY_RFC_REPEATS", "2"))
OUT_PATH = os.environ.get(
    "RIFY_RFC_OUT", os.path.join(REPO, "RETRACT_CONTROL.json")
)


def leg() -> None:
    """One child process: run the mirrored ops at RIFY_RFC_CPUS cores."""
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from rify_spark.session import get_spark

    cpus = int(os.environ["RIFY_RFC_CPUS"])
    store_rows = int(os.environ["RIFY_RFC_STORE_ROWS"])
    cones = [int(x) for x in os.environ["RIFY_RFC_CONES"].split(",")]
    out = os.environ["RIFY_RFC_LEG_OUT"]

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"retract-fold-control-{cpus}",
        shuffle_partitions=2 * cpus,
    )
    width = max(1, min(2 * cpus, store_rows // 200_000 + 1))
    spog = ["s", "p", "o", "g"]

    def quads(ids):
        # s unique per row, so probe/anti outputs are cone-sized, never
        # store-sized — the engine's cones are sets of distinct quads too
        return ids.select(
            F.col("k").alias("s"),
            (F.col("k") % 7).alias("p"),
            (F.col("k") / F.lit(2)).cast("long").alias("o"),
            F.lit(0).cast("long").alias("g"),
        )

    store = (
        quads(spark.range(store_rows).select(F.col("id").alias("k")))
        .repartition(width, "s")
        .sortWithinPartitions(*spog)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    store.count()  # fill the cache before timing, as the soak's store is

    walls = []
    t_all = time.time()
    for cone_rows in cones:
        t0 = time.time()
        # an exact subset of store quads, scattered across partitions
        cone = quads(
            spark.range(cone_rows).select(
                (F.col("id") * 17 % store_rows).alias("k")
            )
        ).localCheckpoint(eager=True)
        # 1. over-delete-shaped rounds: full store probe, cone-sized block
        for _ in range(3):
            probe = (
                store.join(
                    F.broadcast(cone.select("s").dropDuplicates()),
                    "s",
                    "left_semi",
                )
                .dropDuplicates(spog)
                .localCheckpoint(eager=True)
            )
            probe.count()
        # 2. the subtract fold (FactStore.rebuild over retract.subtract_plan)
        flat = (
            store.join(F.broadcast(cone), spog, "left_anti")
            .localCheckpoint(eager=False)
            .repartition(width, "s")
            .sortWithinPartitions(*spog)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        flat.count()
        # 3. re-derive-shaped rounds: goal-directed broadcast inner probes
        for _ in range(2):
            re = (
                F.broadcast(cone.select("s").dropDuplicates())
                .join(store, "s", "inner")
                .select(*spog)
                .dropDuplicates(spog)
                .localCheckpoint(eager=True)
            )
            re.count()
        flat.unpersist()
        walls.append(round(time.time() - t0, 3))
    total = round(time.time() - t_all, 1)
    with open(out, "w") as f:
        json.dump(
            {
                "cpus": cpus,
                "op_walls_s": walls,
                "retract_wall_s": round(sum(walls), 3),
                "cone_rows": sum(cones),
                "cone_rows_per_sec": round(sum(cones) / sum(walls), 1),
                "total_wall_s": total,
            },
            f,
        )
    spark.stop()


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_one(cpus: int, rep: int) -> dict:
    out = os.path.join(tempfile.gettempdir(), f"rify_rfc_{cpus}_{rep}.json")
    env = dict(
        os.environ,
        RIFY_RFC_CPUS=str(cpus),
        RIFY_RFC_STORE_ROWS=str(STORE_ROWS),
        RIFY_RFC_CONES=",".join(str(c) for c in CONES),
        RIFY_RFC_LEG_OUT=out,
        RIFY_RFC_CHILD="1",
        PYTHONPATH=REPO,
        RIFY_DRIVER_MEMORY=os.environ.get("RIFY_RFC_DRIVER_MEM", "10g"),
    )
    s0 = _steal_jiffies()
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    steal = _steal_jiffies() - s0
    if proc.returncode != 0:
        raise RuntimeError(f"control cpus={cpus} failed:\n{proc.stderr[-3000:]}")
    with open(out) as f:
        r = json.load(f)
    r["steal_jiffies_during_run"] = steal
    return r


def main() -> None:
    samples: dict = {CPU_LO: [], CPU_HI: []}
    for rep in range(REPEATS):
        for cpus in (CPU_LO, CPU_HI):
            r = run_one(cpus, rep)
            samples[cpus].append(r)
            print(json.dumps({"rep": rep, **r}), file=sys.stderr, flush=True)
    ratio = CPU_HI / CPU_LO
    lo = min(s["retract_wall_s"] for s in samples[CPU_LO])
    hi = min(s["retract_wall_s"] for s in samples[CPU_HI])
    out = {
        "store_rows": STORE_ROWS,
        "cones": CONES,
        "cpus_lo": CPU_LO,
        "cpus_hi": CPU_HI,
        "repeats": REPEATS,
        "samples": {str(k): v for k, v in samples.items()},
        "control_scaling_efficiency": round((lo / hi) / ratio, 3),
    }
    with open(OUT_PATH, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    if os.environ.get("RIFY_RFC_CHILD"):
        leg()
    else:
        main()
