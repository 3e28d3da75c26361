"""rify_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload closure_neardup --seed 1 --seconds 1 --trace 0

Run it from the repository root. It builds nothing: the program under
test is the ``rify_spark`` package next to this directory, imported from
source. One ``local[<nproc>]`` session is started from this process and
driven through public ``rify_spark`` entry points only. Everything the run
writes stays under ``perfbench/.work``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics (see README.md). A run-quality
record (steal fraction, cores, master, Spark and Java versions, seed) goes
to stderr and to ``perfbench/.work/runs.jsonl``; a traced run also dumps
its spans to ``perfbench/.work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 120  # the run must end within 180 s, clean-up included


def metric_units(kind: str) -> dict:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics: the one list of what a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Deadline(BaseException):
    """Raised by the alarm; a BaseException so no op handler swallows it."""


def cpu_times() -> tuple:
    """(steal, total) jiffies of the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def descendants(pid: int) -> list:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for tid in os.listdir(f"/proc/{p}/task") if os.path.isdir(f"/proc/{p}/task") else []:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                kids = []
            out += kids
            todo += kids
    return out


def running(pid: int) -> bool:
    """True while pid exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list, timeout: float) -> None:
    """Wait for every pid to end; SIGKILL those still running at timeout."""
    end = time.time() + timeout
    while time.time() < end and any(map(running, pids)):
        time.sleep(0.1)
    for p in filter(running, pids):
        os.kill(p, signal.SIGKILL)
    while any(map(running, pids)):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full")
    # shift every expected output by this many rows (the smoke test's
    # proof that a wrong expectation fails the checks)
    ap.add_argument("--skew-expected", type=int, default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import rify_spark  # the package under test, from this checkout only

    if os.path.dirname(os.path.dirname(os.path.abspath(rify_spark.__file__))) != ROOT:
        print(f"perfbench: rify_spark imported from outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # every file Spark, the JVM and the python workers write lands in the run dir
    tempfile.tempdir = tmp
    os.environ.update(
        {
            "TMPDIR": tmp,
            "RIFY_SPARK_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "RIFY_DRIVER_MEMORY": "2g",
            # no hsperfdata files in /tmp, JVM temp files (native libs) in the run dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    steal0 = cpu_times()

    def on_alarm(_sig, _frm):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    from pyspark import SparkContext
    from rify_spark import get_spark

    spark = None
    jvm_pid = None
    try:
        spark = get_spark(
            master=master,
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            },
        )
        setup_s = time.perf_counter() - T_START
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._jvm
        jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        session_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))

        from spans import NullTracer, Tracer

        tracer = Tracer(spark, cores) if args.trace else NullTracer()
        run = Run(spark, tracer, run_dir, args.seed, args.seconds, args.scale, args.skew_expected)
        t_work = time.perf_counter()
        WORKLOADS[args.workload](run)
        work_s = time.perf_counter() - t_work
        rss = vm_hwm_mb(jvm_pid)
        quality = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cores,
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "setup_s": setup_s,
            "work_s": work_s,
            "jvm_peak_rss_mb": rss,
        }
        if args.trace:
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        signal.alarm(0)
        gw = SparkContext._gateway
        kids = descendants(jvm_pid) if jvm_pid else []
        if spark is not None:
            spark.stop()
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=30)
            except Exception:
                gw.proc.kill()
                gw.proc.wait()
        wait_gone(kids + ([jvm_pid] if jvm_pid else []), 20)
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1 = cpu_times()
    quality["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(json.dumps(quality), file=sys.stderr)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(quality) + "\n")

    units = metric_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        # a layer that does not run on this workload reads 0
        values = {n: 0.0 for n in units}
        values.update(run.layers)
        values["session.jobs"] = session_jobs
        values["session.jvm_peak_rss_mb"] = rss
        values["trace.overhead_frac"] = tracer.overhead_s / work_s
    else:
        values = dict(run.e2e, setup_s=setup_s)
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
