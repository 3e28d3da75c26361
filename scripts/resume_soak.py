"""Kill -9 mid-fixpoint resume soak: crash-safety evidence for the
north rule's "resumes mid-iteration" requirement at representative scale.

The unit tests (tests/test_checkpoint.py) cover graceful resume on toy
inputs; this soak proves the crash path: a REAL worker process (driver +
JVM) is SIGKILLed while iterating over the 1M-node tree closure, and a
second process resumes from the newest committed checkpoint and finishes
with the exact closed-form closure.

Three phases, one JSON artifact (RESUME_RUN.json):
  1. scratch control — full run with checkpointing on, fresh dir
     (baseline wall for the wasted-work accounting);
  2. kill run — same job, SIGKILLed (whole process group, so the JVM dies
     too — no graceful shutdown of any kind) once ``kill_after_iters``
     iteration checkpoints have committed, plus a short delay so the kill
     lands mid-iteration;
  3. resume run — same checkpoint dir, ``resume=True``: must restart from
     a committed iteration >= kill_after_iters (never from scratch) and
     finish with derived == sum(i.bit_length(), i in 1..N-1), the exact
     ancestor count of the k -> k//2 tree.

An iteration directory missing meta.json (the commit marker, written
last) is ignored by CheckpointManager.latest() — the kill is allowed to
land anywhere, including mid-parquet-write.

Usage: python scripts/resume_soak.py          (parent / orchestrator)
Env: RIFY_RESUME_TREE_N (default 1_000_000), RIFY_RESUME_CPUS (16),
     RIFY_RESUME_KILL_AFTER (3), RIFY_RESUME_TMP (/dev/shm).
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TREE_N = int(os.environ.get("RIFY_RESUME_TREE_N", "1000000"))
CPUS = int(os.environ.get("RIFY_RESUME_CPUS", "16"))
KILL_AFTER = int(os.environ.get("RIFY_RESUME_KILL_AFTER", "3"))
TMP = os.environ.get("RIFY_RESUME_TMP", "/dev/shm")


def worker() -> None:
    from pyspark.sql import functions as F

    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.session import get_spark

    ckdir = os.environ["RIFY_RESUME_CKDIR"]
    resume = os.environ.get("RIFY_RESUME") == "1"
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="rify-resume-soak",
        shuffle_partitions=2 * CPUS,
    )
    edges = spark.range(1, TREE_N, 1, 2 * CPUS).select(
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
    ]
    if os.environ.get("RIFY_RESUME_STRATEGY") != "smart":
        # default: the GENERIC loop. A third, inert rule (its body predicate
        # never occurs, so its seed plans are pruned as predicate-dead)
        # keeps the program off smart TC; the loop evaluates the same
        # nonlinear program the historical RESUME_RUN artifacts measured.
        # RIFY_RESUME_STRATEGY=smart runs the pure pair on smart TC (its
        # resume protocol under kill -9).
        rules.append(
            Rule.create(
                [[U("a"), B("inert"), U("b"), U("g")]],
                [[U("a"), B("inert_seen"), U("b"), U("g")]],
            )
        )
    # compact_every=3 puts full-facts bases at iterations 1 and 4, so the
    # resume exercises base ∪ subsequent-deltas reconstruction, not just a
    # base read
    cfg = InferConfig(
        checkpoint_dir=ckdir,
        resume=resume,
        store_compact_every=3,
    )
    t0 = time.time()
    derived, fx = infer_df(spark, edges, rules, cfg)
    n = derived.count()
    out = {
        "wall_s": round(time.time() - t0, 2),
        "derived": n,
        "iterations": fx.iterations,
        "resumed": fx.resumed,
        "resumed_from_iter": fx.metrics[0].get("iteration") if fx.resumed else None,
    }
    print("RESULT " + json.dumps(out), flush=True)


def _launch(ckdir: str, resume: bool) -> subprocess.Popen:
    env = dict(os.environ)
    env.update(
        RIFY_RESUME_ROLE="worker",
        RIFY_RESUME_CKDIR=ckdir,
        RIFY_RESUME="1" if resume else "0",
    )
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__)],
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # own process group: SIGKILL takes the JVM too
        cwd=REPO,
    )


def _result(p: subprocess.Popen) -> dict:
    out, _ = p.communicate()
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"worker produced no RESULT line (exit {p.returncode})")


def _committed_iters(ckdir: str) -> list:
    return sorted(
        int(os.path.basename(os.path.dirname(m)).split("=")[1])
        for m in glob.glob(os.path.join(ckdir, "iter=*", "meta.json"))
    )


def main() -> None:
    import shutil

    # /dev/shm checkpoints are RAM: clean up even when an assertion or a
    # worker failure aborts the run mid-way
    ctl_dir = tempfile.mkdtemp(prefix="rify-resume-ctl-", dir=TMP)
    ckdir = tempfile.mkdtemp(prefix="rify-resume-kill-", dir=TMP)
    try:
        _run(ctl_dir, ckdir)
    finally:
        shutil.rmtree(ctl_dir, ignore_errors=True)
        shutil.rmtree(ckdir, ignore_errors=True)


def _run(ctl_dir: str, ckdir: str) -> None:
    expected = sum(i.bit_length() for i in range(1, TREE_N))
    art = {
        "tree_nodes": TREE_N,
        "cpus": CPUS,
        "kill_after_iters": KILL_AFTER,
        "expected_derived": expected,
        "strategy": (
            "smart_tc"
            if os.environ.get("RIFY_RESUME_STRATEGY") == "smart"
            else "generic"
        ),
    }

    # phase 1: scratch control (checkpointing on, runs to completion)
    p = _launch(ctl_dir, resume=False)
    ctl = _result(p)
    assert ctl["derived"] == expected, (ctl, expected)
    art["scratch"] = ctl

    # phase 2: kill run — SIGKILL the process group mid-iteration
    p = _launch(ckdir, resume=False)
    t0 = time.time()
    while True:
        done = _committed_iters(ckdir)
        if done and max(done) >= KILL_AFTER:
            break
        if p.poll() is not None:
            raise RuntimeError("worker finished before the kill point")
        time.sleep(0.25)
    time.sleep(2.0)  # let the next iteration get airborne: kill lands mid-flight
    committed_at_kill = _committed_iters(ckdir)
    os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    p.wait()
    art["kill"] = {
        "wall_to_kill_s": round(time.time() - t0, 2),
        "committed_iters_at_kill": committed_at_kill,
        "exit": p.returncode,  # -9
    }

    def _du(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        return total

    art["kill"]["ck_bytes_at_kill"] = _du(ckdir)

    # phase 3: resume run — must pick up a committed iteration and finish
    p = _launch(ckdir, resume=True)
    res = _result(p)
    art["resume"] = res
    # bounded storage: the resume run prunes superseded iterations at each
    # base commit, so the directory ends at O(newest base + tail deltas),
    # not O(history)
    art["resume"]["ck_dirs_after"] = _committed_iters(ckdir)
    art["resume"]["ck_bytes_after"] = _du(ckdir)
    assert res["resumed"] is True, res
    assert res["resumed_from_iter"] >= KILL_AFTER, res
    assert res["derived"] == expected, (res, expected)
    art["exact_closure"] = True
    # wasted-work accounting: crash+resume total vs one clean run (includes
    # double-paid JVM startup + re-run of the killed in-flight iteration)
    art["crash_path_total_s"] = round(
        art["kill"]["wall_to_kill_s"] + res["wall_s"], 2
    )
    art["crash_overhead_vs_scratch"] = round(
        art["crash_path_total_s"] / ctl["wall_s"], 3
    )

    out_path = os.environ.get(
        "RIFY_RESUME_OUT", os.path.join(REPO, "RESUME_RUN.json")
    )
    with open(out_path, "w") as f:
        json.dump(art, f, indent=1)
    print(json.dumps(art, indent=1))


if __name__ == "__main__":
    if os.environ.get("RIFY_RESUME_ROLE") == "worker":
        worker()
    else:
        main()
