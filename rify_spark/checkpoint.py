"""Persistent fixpoint checkpoints: resumable iteration state + metrics.

North-rule requirement: every fixpoint iteration checkpoints its derived
delta (and lineage/arguments table in prove mode) with per-partition metrics
so a killed job resumes mid-fixpoint instead of recomputing from scratch.

Layout (delta-incremental — neither the full fact store nor the full
lineage table is rewritten per iteration; compacted bases land every
store-compaction interval):
    <dir>/iter=00001/facts.parquet          (base: full store as of iter 1)
    <dir>/iter=00001/arguments.parquet      (base: full lineage, prove mode)
    <dir>/iter=00001/delta.parquet
    <dir>/iter=00007/delta.parquet
    <dir>/iter=00007/args_delta.parquet     (this iteration's lineage rows)
    <dir>/iter=00007/meta.json              (written last = commit marker)

``meta.json`` carries iteration number, row counts, partition counts,
wall-clock and ``base_iter`` (the newest iteration whose directory holds a
full facts.parquet) — resume reads that base and unions the deltas after
it. An iteration directory without meta.json is incomplete and ignored.

The manager writes a base at the first saved iteration, then every
``every`` iterations. Storage is bounded, not historical: after each base
commit it prunes iteration dirs older than the base
(:meth:`CheckpointManager.prune` — resume never reads them), so the
directory holds O(store + one compaction interval of deltas).
``retain_history`` keeps everything instead.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        directory: str,
        fingerprint: Optional[str] = None,
        every: int = 8,
        retain_history: bool = False,
    ):
        """``fingerprint`` identifies the job (rules + config + input shape);
        it is stamped into every ``meta.json`` and verified on resume, so a
        stale checkpoint directory from a different job is refused instead of
        silently restoring wrong fixpoint state. ``every`` is the base
        cadence in iterations; ``retain_history`` turns pruning off."""
        self.spark = spark
        self.dir = directory
        self.fingerprint = fingerprint
        self.every = every
        self.retain_history = retain_history
        self.last_base = 0  # newest full-facts base; 0 = none written yet
        os.makedirs(directory, exist_ok=True)

    def _iter_dir(self, it: int) -> str:
        return os.path.join(self.dir, f"iter={it:05d}")

    def save_iteration(
        self,
        it: int,
        delta: DataFrame,
        facts: DataFrame,
        arguments: Optional[DataFrame] = None,
        arguments_delta: Optional[DataFrame] = None,
        extra_meta: Optional[dict] = None,
    ) -> bool:
        """Write iteration state. ``delta`` is always written; ``facts``
        (the full store) and ``arguments`` (the full lineage table, prove
        mode) only when a base is due; ``arguments_delta`` (this iteration's
        new lineage rows) at every other prove-mode iteration — per-iteration
        checkpoint IO stays O(delta) in both plain and prove mode, not
        O(store)/O(lineage). A base commit prunes the iterations before it
        unless history is retained. Returns whether a base was written."""
        base = self.last_base == 0 or it - self.last_base >= self.every
        if base:
            self.last_base = it
        d = self._iter_dir(it)
        t0 = time.time()
        delta.write.mode("overwrite").parquet(os.path.join(d, "delta.parquet"))
        if base:
            facts.write.mode("overwrite").parquet(os.path.join(d, "facts.parquet"))
            if arguments is not None:
                arguments.write.mode("overwrite").parquet(
                    os.path.join(d, "arguments.parquet")
                )
        elif arguments_delta is not None:
            arguments_delta.write.mode("overwrite").parquet(
                os.path.join(d, "args_delta.parquet")
            )
        delta_dir = os.path.join(d, "delta.parquet")
        # partition count = written part files; counting them via listdir is
        # free, vs re-opening the parquet and converting to RDD (a plan
        # compile on the hot per-iteration path — the same cost the fixpoint
        # metrics avoided, infer.py "delta_partitions" note)
        n_parts = sum(
            1 for fn in os.listdir(delta_dir)
            if fn.startswith("part-") and not fn.endswith(".crc")
        )
        meta = {
            "iteration": it,
            "write_wall_s": round(time.time() - t0, 4),
            "delta_partitions": n_parts,
            "ts": time.time(),
            "has_arguments": base and arguments is not None,
            "has_args_delta": not base and arguments_delta is not None,
            "has_facts": base,
            "base_iter": self.last_base,
            "fingerprint": self.fingerprint,
        }
        if extra_meta:
            meta.update(extra_meta)
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)
        if base and not self.retain_history:
            self.prune(it)
        return base

    def extra_path(self, it: int, name: str) -> str:
        """Path for a strategy-specific artifact inside iteration ``it``'s
        directory (e.g. smart TC's wavefront ``d.parquet``). Callers write
        it BEFORE :meth:`save_iteration` so meta.json stays the commit
        marker covering it."""
        return os.path.join(self._iter_dir(it), name)

    def arguments_path(self, it: int) -> str:
        """Path of the full-lineage parquet written at base iteration
        ``it`` (the fixpoint re-points its lineage union here after each
        base commit)."""
        return os.path.join(self._iter_dir(it), "arguments.parquet")

    def prune(self, keep_from: int) -> list:
        """Delete iteration directories strictly older than ``keep_from``.

        Called after a new full-facts base commits at iteration
        ``keep_from``: resume reads only the newest base and the deltas
        after it (:meth:`latest`), so older iterations are dead weight —
        without pruning the checkpoint directory grows O(total history)
        instead of O(store + one compaction interval of deltas), which is
        the difference between bounded and unbounded storage when deltas
        are TB-sized. Torn directories (no meta.json — a crash mid-write)
        older than the base are removed too. Safe mid-run: by the time a
        new base commits, the current run has long materialized anything
        it read from older checkpoints (the resume seed is checkpointed by
        the first iteration's counts). Returns pruned iteration numbers.
        """
        import shutil

        pruned = []
        for name in os.listdir(self.dir):
            if not name.startswith("iter="):
                continue
            try:
                n = int(name.split("=")[1])
            except ValueError:
                continue
            if n < keep_from:
                shutil.rmtree(os.path.join(self.dir, name), ignore_errors=True)
                pruned.append(n)
        return sorted(pruned)

    def latest(self) -> Optional[tuple]:
        """(iteration, facts, delta, arguments|None, meta) of the newest
        complete checkpoint, or None. ``facts`` is reconstructed as the
        newest base facts.parquet unioned with every delta after it; the
        base cadence continues from that base."""
        if not os.path.isdir(self.dir):
            return None
        complete = []
        for name in os.listdir(self.dir):
            if not name.startswith("iter="):
                continue
            mpath = os.path.join(self.dir, name, "meta.json")
            if os.path.exists(mpath):
                complete.append(int(name.split("=")[1]))
        if not complete:
            return None
        it = max(complete)
        d = self._iter_dir(it)
        with open(os.path.join(d, "meta.json")) as f:
            meta = json.load(f)
        if self.fingerprint is not None and meta.get("fingerprint") != self.fingerprint:
            raise ValueError(
                f"checkpoint at {d} belongs to a different job "
                f"(fingerprint {meta.get('fingerprint')!r} != "
                f"{self.fingerprint!r}); refusing to resume — point "
                f"checkpoint_dir at a fresh directory or the matching job's"
            )
        base = meta.get("base_iter", it if meta.get("has_facts") else None)
        if base is None:
            raise ValueError(f"checkpoint at {d} has no facts base to resume from")
        self.last_base = base
        facts = self.spark.read.parquet(
            os.path.join(self._iter_dir(base), "facts.parquet")
        )
        for j in range(base + 1, it + 1):
            facts = facts.unionByName(
                self.spark.read.parquet(os.path.join(self._iter_dir(j), "delta.parquet"))
            )
        delta = self.spark.read.parquet(os.path.join(d, "delta.parquet"))
        args = None
        if meta.get("has_arguments") or meta.get("has_args_delta"):
            # arguments bases land at the same iterations as facts bases;
            # resume = base arguments ∪ per-iteration args_delta after it
            args = self.spark.read.parquet(
                os.path.join(self._iter_dir(base), "arguments.parquet")
            )
            for j in range(base + 1, it + 1):
                args = args.unionByName(
                    self.spark.read.parquet(
                        os.path.join(self._iter_dir(j), "args_delta.parquet")
                    )
                )
        return it, facts, delta, args, meta
