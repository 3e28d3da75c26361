"""Spans read from outside the program.

A span wraps one call into a ``rify_spark`` layer. Nothing inside the
program is instrumented: on exit the span asks Spark what ran during its
window, through ``sparkContext.statusTracker()`` (new job ids and their
stage ids) and the JVM status store (``statusStore().lastStageAttempt``:
tasks, executor run/CPU/GC time, shuffle bytes, submission and completion
times). Spans stay in memory and are written out as JSON by :meth:`dump`.

``NullTracer`` has the same interface and does no bookkeeping; the
untraced run uses it, so end-to-end timings never pay for tracing.
"""

from __future__ import annotations

import contextlib
import json
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {"name": name, "attrs": attrs}


class Tracer:
    enabled = True

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores
        self.spans: list = []
        self._stack: list = []
        self._stage_cache: dict = {}
        # time spent inside span bookkeeping: the tracer's own cost
        self.overhead_s = 0.0

    def _job_ids(self) -> set:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _stage(self, sid: int):
        """(tasks, run_s, cpu_s, gc_s, read_b, write_b, t_sub, t_done) of a
        completed stage attempt, or None for a skipped / unknown stage.
        Completed stages never change, so they are cached."""
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        try:
            sd = self.store.lastStageAttempt(sid)
        except Exception:  # skipped stages have no attempt
            return None
        status = sd.status().toString()
        if status in ("SKIPPED", "PENDING"):
            return None
        sub, done = sd.submissionTime(), sd.completionTime()
        t_sub = sub.get().getTime() / 1000.0 if sub.isDefined() else None
        t_done = done.get().getTime() / 1000.0 if done.isDefined() else None
        rec = (
            int(sd.numTasks()),
            sd.executorRunTime() / 1000.0,
            sd.executorCpuTime() / 1e9,
            sd.jvmGcTime() / 1000.0,
            int(sd.shuffleReadBytes()),
            int(sd.shuffleWriteBytes()),
            t_sub,
            t_done,
        )
        if status in ("COMPLETE", "FAILED"):
            self._stage_cache[sid] = rec
        return rec

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        b0 = time.perf_counter()
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        jobs0 = self._job_ids()
        self.overhead_s += time.perf_counter() - b0
        t0 = time.time()
        try:
            yield rec
        finally:
            t1 = time.time()
            b1 = time.perf_counter()
            self._stack.pop()
            self._close(rec, jobs0, t0, t1)
            self.overhead_s += time.perf_counter() - b1

    def _close(self, rec: dict, jobs0: set, t0: float, t1: float) -> None:
        job_times = []
        stage_ids: set = set()
        for jid in sorted(self._job_ids() - jobs0):
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            sub = self.store.job(jid).submissionTime()
            job_times.append(sub.get().getTime() / 1000.0 if sub.isDefined() else t0)
        stages = [st for st in map(self._stage, sorted(stage_ids)) if st is not None]
        rec["job_times"] = job_times
        rec["stage_list"] = stages
        rec.update(t0=t0, t1=t1, **self._stats(job_times, stages, t0, t1))

    def _stats(self, job_times: list, stages: list, t0: float, t1: float) -> dict:
        wall = t1 - t0
        cpu = sum(st[2] for st in stages)
        return {
            "wall_s": wall,
            "jobs": len(job_times),
            "stages": len(stages),
            "tasks": sum(st[0] for st in stages),
            "shuffle_read_bytes": sum(st[4] for st in stages),
            "shuffle_write_bytes": sum(st[5] for st in stages),
            "executor_run_s": sum(st[1] for st in stages),
            "cpu_s": cpu,
            "gc_s": sum(st[3] for st in stages),
            "cpu_util": cpu / (wall * self.cores) if wall > 0 else 0.0,
            "idle_s": max(
                0.0,
                wall
                - _covered(
                    [(max(t0, st[6]), min(t1, st[7] or t1)) for st in stages if st[6] is not None]
                ),
            ),
        }

    def window(self, rec: dict, a: float, b: float) -> dict:
        """Stats of the part of span ``rec`` between wall-clock times a and
        b: its jobs and stages whose submission time falls in [a, b)."""
        jobs = [t for t in rec["job_times"] if a <= t < b]
        stages = [st for st in rec["stage_list"] if st[6] is not None and a <= st[6] < b]
        return self._stats(jobs, stages, a, b)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"overhead_s": self.overhead_s, "spans": self.spans}, f, indent=1)


def _covered(intervals: list) -> float:
    """Length of the union of [a, b) intervals."""
    total = 0.0
    end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
