"""Streaming IVM soak test -> STREAM_RUN.json (VERDICT r3 item 4).

Streams a k -> k//2 tree (RIFY_SOAK_TREE_N nodes, default 1M) into an
IncrementalReasoner in RIFY_SOAK_BATCHES (default 50) id-ordered
micro-batches, so each batch contributes ~constant novel premises AND
~constant derived closure rows (each new node derives its full ancestor
chain). What the soak must show:

  * per-batch wall stays FLAT as the store grows 50x (live-block novelty:
    per-batch cost tracks the batch, never the store);
  * memory stays bounded across FactStore compactions (persisted-block
    count + driver-JVM RSS recorded per batch);
  * one mid-run RESTART (new reasoner over the same durable store dir)
    re-seeds the live store from the bucketed parquet and keeps deriving;
  * durable-file compaction cycles (compact_files_every=16 -> batches
    16/32/48) with the crash-safe swap;
  * the final store is EXACT: premises (n-1 edges) + closure
    (sum of bit_length(k) ancestor quads) — closed form, no oracle run.

Batches are fed through process_batch directly (the foreachBatch body) so
batch boundaries are deterministic; the file-stream wiring itself is
covered by tests/test_streaming.py.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("RIFY_SOAK_CPUS", "16"))
TREE_N = int(os.environ.get("RIFY_SOAK_TREE_N", "1000000"))
BATCHES = int(os.environ.get("RIFY_SOAK_BATCHES", "50"))
RESTART_AT = int(os.environ.get("RIFY_SOAK_RESTART_AT", "25"))
# key distribution (VERDICT r4 ask #7): "uniform" streams each edge once in
# id order; "zipf" additionally re-sends, per batch, ZIPF_FRAC x batch-size
# DUPLICATE edges whose subjects are Zipf-distributed over the ids seen so
# far (log-uniform inverse-CDF over a deterministic 32-bit hash — rank-1/r
# frequencies, so node:1/node:2 are re-sent thousands of times). Duplicates
# are true tree edges, so the EXACT closed-form closure check is unchanged —
# what the skew exercises is the insert-dedup + chained-novelty-anti path
# and the hot-key candidate join, together.
KEY_DIST = os.environ.get("RIFY_SOAK_KEY_DIST", "uniform")
ZIPF_FRAC = float(os.environ.get("RIFY_SOAK_ZIPF_FRAC", "1.0"))
OUT = os.environ.get(
    "RIFY_SOAK_OUT",
    os.path.join(
        REPO, "STREAM_RUN.json" if KEY_DIST == "uniform" else "STREAM_RUN_ZIPF.json"
    ),
)


def _java_rss_kb() -> int:
    try:
        out = subprocess.run(
            ["ps", "-C", "java", "-o", "rss="], capture_output=True, text=True
        ).stdout.split()
        return max((int(x) for x in out), default=0)
    except Exception:
        return 0


def main() -> None:
    from pyspark.sql import functions as F

    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.session import get_spark
    from rify_spark.streaming.incremental import IncrementalReasoner

    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="rify-stream-soak",
        shuffle_partitions=2 * CPUS,
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    store_dir = "/tmp/rify_soak_store"
    # a premise directory left by an earlier run would make the new store
    # look like existing data and open at that data's bucket count
    for suffix in ("", ".__old__", ".__compact__", ".__premises__",
                   ".__premises__.__old__", ".__premises__.__compact__"):
        shutil.rmtree(store_dir + suffix, ignore_errors=True)

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

    def mk_reasoner() -> IncrementalReasoner:
        return IncrementalReasoner(
            spark, rules, store_dir, compact_files_every=16
        )

    def _edges(ids):
        return ids.select(
            F.concat(F.lit("node:"), F.col("id")).alias("s"),
            F.lit("parent").alias("p"),
            F.concat(F.lit("node:"), (F.col("id") / 2).cast("long")).alias("o"),
            F.lit("graph://tree").alias("g"),
        )

    def batch_df(lo: int, hi: int):
        novel = _edges(spark.range(lo, hi, 1, CPUS))
        if KEY_DIST != "zipf":
            return novel
        # Zipf-distributed duplicate subjects over [1, hi): u = 32-bit hash
        # of the row index (deterministic), id = floor(hi^u) — log-uniform,
        # i.e. P(id = k) ~ 1/k. All are edges already sent, so the store
        # must absorb every one of them via dedup + anti.
        extra_n = int((hi - lo) * ZIPF_FRAC)
        u = (
            (F.col("id") + F.lit(lo)) * F.lit(2654435761) % F.lit(1 << 32)
        ).cast("double") / F.lit(float(1 << 32))
        zipf_id = F.greatest(
            F.lit(1),
            F.least(
                F.lit(hi - 1),
                F.pow(F.lit(float(hi)), u).cast("long"),
            ),
        )
        dup = _edges(
            spark.range(0, extra_n, 1, CPUS).select(zipf_id.alias("id"))
        )
        return novel.unionByName(dup)

    r = mk_reasoner()
    step = (TREE_N - 1) // BATCHES + 1
    per_batch = []
    t_start = time.time()
    restarted = False
    for i in range(BATCHES):
        lo, hi = 1 + i * step, min(1 + (i + 1) * step, TREE_N)
        if lo >= hi:
            break
        if i == RESTART_AT and not restarted:
            # mid-run restart: a NEW reasoner over the same durable store —
            # the live FactStore re-seeds from the bucketed parquet
            r._reset_live_store()
            r = mk_reasoner()
            restarted = True
        t0 = time.time()
        r.process_batch(batch_df(lo, hi), i)
        store = r._live_store()
        per_batch.append(
            {
                "batch": i,
                "rows": (hi - lo)
                + (int((hi - lo) * ZIPF_FRAC) if KEY_DIST == "zipf" else 0),
                "wall_s": round(time.time() - t0, 3),
                "store_rows": store.total_rows,
                "store_blocks": len(store.blocks),
                "store_partitions": store.partitions,
                "restart": i == RESTART_AT,
                "java_rss_mb": _java_rss_kb() // 1024,
            }
        )
        print(json.dumps(per_batch[-1]), file=sys.stderr)

    # exactness: premises (n-1 edges) + ancestor closure (bit_length chain)
    expected = (TREE_N - 1) + sum(k.bit_length() for k in range(1, TREE_N))
    got_live = r._live_store().total_rows
    got_parquet = r.facts().count()

    walls = [b["wall_s"] for b in per_batch if not b["restart"]]
    head = walls[2:10]
    tail = walls[-8:]
    flat_ratio = round(
        (sum(tail) / len(tail)) / (sum(head) / len(head)), 3
    )
    out = {
        "tree_nodes": TREE_N,
        "key_dist": KEY_DIST,
        "zipf_frac": ZIPF_FRAC if KEY_DIST == "zipf" else 0.0,
        "batches": len(per_batch),
        "cpus": CPUS,
        "restart_at": RESTART_AT,
        "expected_rows": expected,
        "live_store_rows": got_live,
        "parquet_rows": got_parquet,
        "exact": got_live == expected and got_parquet == expected,
        "wall_total_s": round(time.time() - t_start, 1),
        "flat_ratio_tail_over_head": flat_ratio,
        "max_store_blocks": max(b["store_blocks"] for b in per_batch),
        "max_java_rss_mb": max(b["java_rss_mb"] for b in per_batch),
        "per_batch": per_batch,
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "per_batch"}))


if __name__ == "__main__":
    main()
