"""Incremental inference over a quad stream (Structured Streaming).

The reference engine is batch-only (no streaming surface at all —
SURVEY.md §2.2), but its semi-naive worklist maps naturally onto Spark
Structured Streaming: every arriving micro-batch of quads IS a delta, and
the engine's delta-restricted evaluation (infer.py) is exactly the
incremental-view-maintenance step. This module wires that up:

    readStream (file source / any source producing s,p,o,g)
      -> foreachBatch(IncrementalReasoner.process_batch)
          batch quads = Δ; append the novel ones to the LIVE FactStore
          (FactStore.novel -> append, one Spark job); run the
          delta-restricted fixpoint against it; append this batch's
          additions to the durable bucketed parquet store

Scale design (what keeps per-batch wall flat in store size):
  * the FactStore persists ACROSS micro-batches (``fixpoint(reuse_store=)``)
    — the novelty anti-join and the semi-naive joins read the store's
    cached s-partitioned blocks in place; nothing re-reads the parquet
    store per batch (the round-2 design re-read + anti-joined the whole
    persisted store every batch);
  * the durable parquet store is hash-BUCKETED on s
    (``bucket=pmod(xxhash64(s), n_buckets)`` directory partitions), so a
    cold restart can prune its recovery scan and offline consumers join
    bucket-wise; per-batch appends write only this batch's additions,
    one file per touched bucket per append;
  * the bucket count defaults to 16 and is recorded with the store in
    ``<store>.__layout__.json`` (a sibling, so the compaction swap leaves
    it alone). A reopened store keeps its recorded count; a store written
    before the record existed opens at the old default of 64. Each file
    costs ~12-20 ms inside the write task (4-core box), so 64 buckets made
    the two appends of a 1k-node batch ~40% of its insert wall; and 16 bucket
    directories stay under Spark's parallel partition-discovery threshold
    (32), so a ``facts()`` read lists them on the driver instead of
    starting a listing job;
  * appends accumulate small files; :meth:`compact_store` rewrites each
    bucket into one file (atomic directory swap), auto-triggered every
    ``compact_files_every`` batches — amortized O(store / interval). The
    cadence survives restarts: a reopened store resumes the count from the
    files already in its buckets;
  * per-batch join-order stats / hot-key scans are OFF by default here:
    they re-scan the whole store each fixpoint call, which is exactly the
    per-batch O(store) work this design removes (streaming rule sets are
    fixed and small; the static join-order heuristic suffices).

State recovery: restart re-seeds the live store from the parquet store and
Spark's own checkpointLocation replays unprocessed source files. Use
``trigger(availableNow=True)`` for catch-up-then-stop semantics (tested),
or a processing-time trigger for continuous operation.

Retraction (DRed — see :mod:`.retract`): :meth:`IncrementalReasoner.
retract_batch` removes premises and exactly maintains the closure
(over-delete the cone, subtract, re-derive survivors); :meth:`
process_signed_batch` accepts CDC-style batches with an ``op`` column
('+'/'-'). Premises are tracked in a sibling bucketed parquet directory
(``<store>.__premises__``) so "retract X" is well-defined under set
semantics: a fact stays iff it is still a premise or still derivable.
Durable edits are journaled (full new content of every affected bucket is
written and committed BEFORE any store directory is touched), so a crash
mid-retraction replays idempotently on the next startup.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..infer import (
    QUAD_SCHEMA,
    SPOG,
    FactStore,
    InferConfig,
    _union_all,
    fixpoint,
    seed_facts,
    unconditional_heads_df,
)
from ..rules import Rule, lower_rule
from ..session import scoped_conf

BUCKET_COL = "bucket"
DEFAULT_BUCKETS = 16
# bucket count of stores written before the layout record existed
LEGACY_BUCKETS = 64


class IncrementalReasoner:
    """Maintains facts = fixpoint(premises-so-far, rules) under quad arrivals.

    Monotone (inserts only) — the natural streaming analog of a
    forward-chaining engine. The per-batch cost is the semi-naive step:
    joins of the batch delta against the accumulated store's cached blocks,
    never a full recompute and never a full re-read of persisted state.
    """

    def __init__(
        self,
        spark: SparkSession,
        rules: list,
        store_dir: str,
        config: Optional[InferConfig] = None,
        n_buckets: Optional[int] = None,
        compact_files_every: int = 16,
        track_premises: bool = True,
    ):
        self.spark = spark
        self.rules = list(rules)
        self.store_dir = store_dir
        self.compact_files_every = max(1, compact_files_every)
        # premise tracking makes retraction well-defined (a fact survives a
        # retraction iff it is still a premise or still derivable); costs
        # one O(batch) parquet append per batch. Disable for insert-only
        # pipelines that will never retract.
        self.track_premises = track_premises
        if config is None:
            # stats/hot-key scans are per-fixpoint-call full-store scans —
            # exactly the O(store)-per-batch work the live store removes
            config = InferConfig(use_stats=False, salt_hot_values=False)
        self.cfg = config
        self.lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(self.rules)]
        self._store: Optional[FactStore] = None
        self._recover_compaction()
        self.n_buckets = self._resolve_layout(n_buckets)
        self._recover_retraction()
        self._batches_since_compact = self._most_files_per_bucket()

    # --- durable bucketed parquet ----------------------------------------

    def _compact_paths(self, base: Optional[str] = None) -> tuple:
        base = (base or self.store_dir).rstrip("/")
        return base + ".__compact__", base + ".__old__"

    @property
    def premises_dir(self) -> str:
        return self.store_dir.rstrip("/") + ".__premises__"

    def _journal_dir(self) -> str:
        return self.store_dir.rstrip("/") + ".__retract_journal__"

    def _layout_path(self) -> str:
        return self.store_dir.rstrip("/") + ".__layout__.json"

    def _resolve_layout(self, n_buckets: Optional[int]) -> int:
        """The store's bucket count: the recorded one for a store holding
        data, :data:`LEGACY_BUCKETS` for data written before the record
        existed, else ``n_buckets`` or :data:`DEFAULT_BUCKETS`. Every
        bucket-wise edit (appends, compaction, the retraction journal's
        bucket rewrites) must hash with the count the data was written
        with, so an explicit count that disagrees with the record raises.
        A record without data (store directories deleted) binds nothing."""
        path = self._layout_path()
        has_data = self._has_parquet() or self._has_parquet(self.premises_dir)
        recorded = None
        if has_data and os.path.exists(path):
            with open(path) as f:
                recorded = json.load(f)["n_buckets"]
        if recorded is not None and n_buckets not in (None, recorded):
            raise ValueError(
                f"store {self.store_dir} is laid out in {recorded} buckets, "
                f"not n_buckets={n_buckets}"
            )
        n = n_buckets or recorded or (LEGACY_BUCKETS if has_data else DEFAULT_BUCKETS)
        if n != recorded:
            os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump({"n_buckets": n}, f)
            os.replace(path + ".tmp", path)
        return n

    def _recover_compaction(self) -> None:
        """Heal a crash inside :meth:`compact_store`'s directory swap.

        The swap window is: rename(store, old) -> rename(tmp, store) ->
        rmtree(old). A crash between the two renames leaves the data
        stranded in ``.__old__`` with no store directory — a restarted
        reasoner would otherwise see an empty store and silently start from
        nothing. Recovery: if the store is missing but ``.__old__`` exists,
        rename it back (the compacted ``.__compact__`` copy, if complete,
        holds the same rows — either directory is a correct store; the
        original is the conservative pick). Leftover side directories are
        then removed in both cases. Applies to both the fact store and the
        premise store (same swap discipline)."""
        for base in (self.store_dir, self.premises_dir):
            tmp, old = self._compact_paths(base)
            if not os.path.isdir(base) and os.path.isdir(old):
                os.rename(old, base)
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)

    def _has_parquet(self, base: Optional[str] = None) -> bool:
        base = base or self.store_dir
        return os.path.isdir(base) and any(
            not e.startswith(".") for e in os.listdir(base)
        )

    def _most_files_per_bucket(self) -> int:
        """Largest data-file count of any ``bucket=`` directory of the store
        or the premise directory. An append adds at most one file per
        bucket and compaction leaves one, so this bounds the appends since
        the last compaction: a reopened store resumes its compaction
        cadence instead of restarting it at 0, which would let a stream
        restarted more often than every ``compact_files_every`` batches
        grow its files per bucket without bound."""
        most = 0
        for base in (self.store_dir, self.premises_dir):
            if not os.path.isdir(base):
                continue
            for d in os.scandir(base):
                if d.is_dir() and d.name.startswith(BUCKET_COL + "="):
                    n = sum(1 for f in os.listdir(d.path) if f.endswith(".parquet"))
                    most = max(most, n)
        return most

    def facts(self) -> DataFrame:
        """The durable store (cold-read path: restart recovery / offline
        consumers). Bucket directory partitions allow bucket-pruned scans."""
        if self._has_parquet():
            return (
                self.spark.read.schema(f"{QUAD_SCHEMA}, {BUCKET_COL} int")
                .parquet(self.store_dir)
                .select(*SPOG)
            )
        return self.spark.createDataFrame([], QUAD_SCHEMA)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64("s"), F.lit(self.n_buckets)).cast("int"),
        )

    def _append_parquet(self, df: DataFrame, target: Optional[str] = None) -> None:
        # repartition on the bucket key first: partitionBy splits EVERY task
        # by bucket value, so an un-repartitioned append (novel + iteration
        # deltas ≈ hundreds of store-width partitions) writes tasks×buckets
        # tiny files — measured ~25k files/batch, 447k files after a 50-batch
        # soak, with the append wall growing to ~50 s/batch. One exchange of
        # O(delta) rows caps the append at n_buckets files per batch.
        (
            self._bucketed(df)
            .repartition(self.n_buckets, BUCKET_COL)
            .write.mode("append")
            .partitionBy(BUCKET_COL)
            .parquet(target or self.store_dir)
        )

    def _premises_df(self) -> DataFrame:
        """The premise set (deduplicated read: appends may re-record a
        premise that arrived in several batches; compaction collapses
        them)."""
        if self._has_parquet(self.premises_dir):
            return (
                self.spark.read.schema(f"{QUAD_SCHEMA}, {BUCKET_COL} int")
                .parquet(self.premises_dir)
                .select(*SPOG)
                .dropDuplicates(SPOG)
            )
        return self.spark.createDataFrame([], QUAD_SCHEMA)

    def compact_store(self) -> None:
        """Rewrite the bucketed store with one file per bucket (atomic swap:
        write aside, then replace). Appends leave O(batches) small files per
        bucket; compaction returns the store to O(n_buckets) files. The
        premise directory compacts on the same cadence, additionally
        collapsing cross-batch duplicate premise records (appends are
        deliberately dedup-free — set semantics are restored here and at
        read time)."""
        self._compact_dir(self.store_dir)
        self._compact_dir(self.premises_dir, dedup=True)

    def _compact_dir(self, base: str, dedup: bool = False) -> None:
        if not self._has_parquet(base):
            return
        tmp, old = self._compact_paths(base)
        shutil.rmtree(tmp, ignore_errors=True)
        df = self.spark.read.schema(f"{QUAD_SCHEMA}, {BUCKET_COL} int").parquet(base)
        if dedup:
            df = df.dropDuplicates(SPOG)
        (
            df.repartition(self.n_buckets, BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(tmp)
        )
        # swap window healed by _recover_compaction on the next startup
        shutil.rmtree(old, ignore_errors=True)
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old, ignore_errors=True)

    # --- live store -------------------------------------------------------

    def _live_store(self) -> FactStore:
        """The cross-batch FactStore, seeded once: from the durable store on
        restart; with no durable data it stays empty (no blocks) and the
        first batch seeds it."""
        if self._store is None:
            self._store = FactStore(
                self.spark, compact_every=self.cfg.store_compact_every
            )
            if self._has_parquet():
                self._store.seed(self.facts())
        return self._store

    def _reset_live_store(self) -> None:
        """Drop the live FactStore; the next batch re-seeds from the durable
        parquet, i.e. from exactly the committed batch prefix."""
        if self._store is not None:
            try:
                self._store.release()
            except Exception as e:  # best effort on a failed batch's path
                warnings.warn(f"rify_spark live-store release failed: {e!r}")
        self._store = None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: treat the micro-batch as the worklist delta.

        Failure atomicity: the live store is mutated (novel block appended,
        fixpoint derivations added) BEFORE the durable parquet append — if
        any step fails mid-batch, a replay against the mutated store would
        find the batch's premises already present, derive nothing, and the
        batch's closure would never be computed nor persisted. The except
        path therefore rolls the live store back to the committed state by
        dropping it (re-seeded from parquet on the next call)."""
        store = self._live_store()
        batch = batch_df.select(*SPOG).dropDuplicates(SPOG)
        try:
            if self.track_premises:
                # record the batch's premises FIRST (before any store
                # mutation, and also for an all-duplicates batch):
                # retraction semantics need every asserted premise on
                # record, including re-assertions of already-derived quads.
                # Appends are dedup-free (O(batch), no store read) —
                # duplicates collapse at read time and at compaction. The
                # checkpoint keeps the downstream novelty anti from
                # re-reading the source.
                batch = batch.localCheckpoint(eager=False)
                self._append_parquet(batch, self.premises_dir)
            if store.total_rows == 0:
                # first facts: unconditional heads are not yet materialized —
                # run a full first round over seed_facts. Seed the store
                # from the first real batch so the block width matches the
                # data (a store seeded from an empty durable read would
                # serialize every join at width 1 until the first prefix
                # compaction); seed() releases any empty block held.
                seed = seed_facts(self.spark, batch, self.lrules)
                novel, n_novel = store.seed(seed)
            else:
                # novelty against cached blocks (arrivals may repeat facts
                # already present or derived) — no parquet re-read
                novel = store.novel(batch)
                n_novel, _ = store.append(novel)
            # an all-duplicates batch derives and persists nothing, but it
            # still counts toward compaction: its premises were appended
            if n_novel:
                res = fixpoint(
                    self.spark,
                    novel,  # schema source only (reuse_store is authoritative)
                    self.lrules,
                    self.cfg,
                    reuse_store=store,
                    track_deltas=True,
                )
                # durable append: exactly this batch's additions (novel
                # premises + tracked per-iteration deltas) — O(delta), never
                # O(store)
                self._append_parquet(_union_all([novel] + res.delta_dfs))
                # long-running stream: once the store dwarfs the typical
                # batch, the small-store single-anti path re-broadcasts the
                # WHOLE store union every batch (a serial HashedRelation
                # build growing with the store). Force the chained per-block
                # anti from then on — the facts side stays in place and
                # per-batch cost tracks the batch, not the store.
                if store.total_rows > 10 * n_novel and store.total_rows > 100_000:
                    store.single_anti_max_rows = min(
                        store.single_anti_max_rows, 100_000
                    )
        except BaseException:
            self._reset_live_store()
            raise
        self._batches_since_compact += 1
        if self._batches_since_compact >= self.compact_files_every:
            self.compact_store()
            self._batches_since_compact = 0

    # --- retraction (DRed) -------------------------------------------------

    def retract_batch(self, retract_df: DataFrame) -> dict:
        """Remove premises and exactly maintain the closure (DRed — see
        :mod:`.retract` for the algorithm and cost model).

        Returns a metrics dict: ``retracted`` (premises actually removed —
        quads that were never premises are ignored), ``cone`` (over-deleted
        facts), ``readded`` (cone members that survived re-derivation),
        ``removed`` (net deletions), plus round counts.

        Failure atomicity mirrors :meth:`process_batch`: the live store is
        rolled back (re-seeded from the committed parquet) on any error;
        durable edits happen only after the full new bucket contents are
        journaled and committed, and replay idempotently after a crash."""
        if not self.track_premises:
            raise ValueError(
                "retract_batch requires track_premises=True (the premise set "
                "defines what a retraction means)"
            )
        # constraint propagation OFF for the whole retraction (scoped, so
        # restored on every exit), for the fixpoint's perf reason (see
        # infer.fixpoint) plus a correctness one: the cone/readded unions
        # mix eager localCheckpoints, and a checkpointed LogicalRDD carries its
        # origin plan's constraints — when the source plan was
        # constraint-rich (parquet reads + filters), Union's
        # rewriteConstraints hits attributes absent from the checkpoint's
        # output and throws NoSuchElementException ("key not found: g#N",
        # UnionBase.rewriteConstraints). Constraints buy nothing here: every
        # join is an equi/semi/anti join on non-null quad columns.
        with scoped_conf(self.spark) as set_conf:
            set_conf("spark.sql.constraintPropagation.enabled", False)
            return self._retract_batch_inner(retract_df)

    def _retract_batch_inner(self, retract_df: DataFrame) -> dict:
        from .retract import _maybe_broadcast, overdelete, rederive, subtract_plan

        store = self._live_store()
        x_req = retract_df.select(*SPOG).dropDuplicates(SPOG)
        premises = self._premises_df()
        # only actual premises can be retracted; unknown quads are a no-op
        x = x_req.join(premises, SPOG, "left_semi").localCheckpoint(eager=True)
        x_rows = x.count()
        m = {
            "retracted": x_rows,
            "cone": 0,
            "readded": 0,
            "removed": 0,
            "overdelete_rounds": 0,
            "rederive_rounds": 0,
        }
        if x_rows == 0:
            return m
        if store.total_rows == 0:
            # fact store empty but premise records exist (possible after a
            # crash between the premise append and the fact write): the
            # premise removal must still happen durably — a stale premise
            # would re-seed future retractions' cones as "still asserted".
            empty = x.limit(0)
            self._apply_durable_retraction(x, x_rows, empty, empty, 0)
            return m
        dtype = store.union().schema["s"].dataType
        try:
            # 1. the deletion cone, over the PRE-deletion store (the cone's
            # blocks are eager checkpoints, so the snapshot is safe to drop
            # afterwards)
            cone, cone_rows, m["overdelete_rounds"] = overdelete(
                self.spark, store.union(), self.lrules, x, rows=x_rows
            )
            # 2. facts by fiat that the cone swept up: premises that remain
            # asserted, and unconditional heads (they hold in any store).
            # dropDuplicates: a cone member that is BOTH a surviving premise
            # and an unconditional head appears in both arms, and nothing
            # downstream dedups (append and the journal keep rows as-is)
            p_rest = premises.join(_maybe_broadcast(x, x_rows), SPOG, "left_anti")
            reseed = cone.join(p_rest, SPOG, "left_semi")
            uncond = unconditional_heads_df(self.spark, self.lrules)
            if uncond is not None:
                reseed = reseed.unionByName(
                    uncond.join(cone, SPOG, "left_semi")
                ).dropDuplicates(SPOG)
            # 3. subtract, then re-derive survivors
            store.rebuild(subtract_plan(store, cone, cone_rows))
            readded, readd_rows, m["rederive_rounds"] = rederive(
                self.spark, store, self.lrules, cone, cone_rows, reseed, dtype
            )
            m["cone"] = cone_rows
            m["readded"] = readd_rows
            if readd_rows:
                store.append(readded)
            removed = cone.join(
                _maybe_broadcast(readded, readd_rows), SPOG, "left_anti"
            ).localCheckpoint(eager=True)
            m["removed"] = removed.count()
            # 4. durable edits, journaled
            self._apply_durable_retraction(x, x_rows, removed, readded, cone_rows)
        except BaseException:
            self._reset_live_store()
            raise
        return m

    def process_signed_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body for CDC-style signed streams: quads carry an
        ``op`` column ('+' assert / '-' retract). Retractions apply first,
        then assertions — a batch that both retracts and re-asserts a quad
        ends with it present (upsert-like, the usual CDC convention)."""
        retracts = batch_df.filter(F.col("op") == "-").select(*SPOG)
        inserts = batch_df.filter(F.col("op") == "+").select(*SPOG)
        self.retract_batch(retracts)
        self.process_batch(inserts, batch_id)

    # durable retraction: the journal holds the COMPLETE new content of
    # every affected bucket (facts and premises), committed with a marker
    # file before any store directory is touched. Apply = per-bucket
    # replace from the journal — idempotent, so `_recover_retraction`
    # simply re-applies a committed journal after a crash and discards an
    # uncommitted one (the live store was rolled back; durable state was
    # never touched).

    def _apply_durable_retraction(
        self,
        x: DataFrame,
        x_rows: int,
        removed: DataFrame,
        readded: DataFrame,
        cone_rows: int,
    ) -> None:
        import json

        from .retract import _maybe_broadcast

        jdir = self._journal_dir()
        shutil.rmtree(jdir, ignore_errors=True)
        drop = removed.unionByName(readded)  # = the cone (cone_rows rows)
        fact_buckets = [
            r[0]
            for r in self._bucketed(drop).select(BUCKET_COL).distinct().collect()
        ]
        prem_buckets = [
            r[0] for r in self._bucketed(x).select(BUCKET_COL).distinct().collect()
        ]
        if fact_buckets and self._has_parquet():
            aff = (
                self.spark.read.schema(f"{QUAD_SCHEMA}, {BUCKET_COL} int")
                .parquet(self.store_dir)
                .filter(F.col(BUCKET_COL).isin(fact_buckets))
                .select(*SPOG)
            )
            new = aff.join(
                _maybe_broadcast(drop, cone_rows), SPOG, "left_anti"
            ).unionByName(readded)
            self._bucketed(new).repartition(
                max(1, len(fact_buckets)), BUCKET_COL
            ).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                os.path.join(jdir, "facts")
            )
        if prem_buckets:
            paff = (
                self.spark.read.schema(f"{QUAD_SCHEMA}, {BUCKET_COL} int")
                .parquet(self.premises_dir)
                .filter(F.col(BUCKET_COL).isin(prem_buckets))
                .select(*SPOG)
                .dropDuplicates(SPOG)
            )
            pnew = paff.join(_maybe_broadcast(x, x_rows), SPOG, "left_anti")
            self._bucketed(pnew).repartition(
                max(1, len(prem_buckets)), BUCKET_COL
            ).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                os.path.join(jdir, "premises")
            )
        os.makedirs(jdir, exist_ok=True)
        with open(os.path.join(jdir, "meta.json"), "w") as f:
            json.dump(
                {"fact_buckets": fact_buckets, "prem_buckets": prem_buckets}, f
            )
        with open(os.path.join(jdir, "_COMMIT"), "w") as f:
            f.write("1")
        self._apply_journal()

    def _apply_journal(self) -> None:
        import json

        jdir = self._journal_dir()
        with open(os.path.join(jdir, "meta.json")) as f:
            meta = json.load(f)
        for sub, base, buckets in (
            ("facts", self.store_dir, meta["fact_buckets"]),
            ("premises", self.premises_dir, meta["prem_buckets"]),
        ):
            for b in buckets:
                dst = os.path.join(base, f"{BUCKET_COL}={b}")
                src = os.path.join(jdir, sub, f"{BUCKET_COL}={b}")
                shutil.rmtree(dst, ignore_errors=True)
                if os.path.isdir(src):
                    shutil.copytree(src, dst)
        shutil.rmtree(jdir, ignore_errors=True)

    def _recover_retraction(self) -> None:
        jdir = self._journal_dir()
        if not os.path.isdir(jdir):
            return
        if os.path.exists(os.path.join(jdir, "_COMMIT")):
            self._apply_journal()
        else:
            shutil.rmtree(jdir, ignore_errors=True)

    def start_file_stream(
        self,
        source_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        stream = (
            self.spark.readStream.schema(QUAD_SCHEMA)
            .parquet(source_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_nquads_stream(
        self,
        source_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        on_malformed: str = "error",
    ):
        """Tail an N-Quads/N-Triples text feed (``rify_spark.rdf`` line
        grammar) and maintain the closure incrementally.

        ``on_malformed``: ``"error"`` fails the micro-batch (the batch
        atomicity path rolls the live store back, so a poisoned file never
        half-applies); ``"skip"`` drops bad lines and records the count in
        ``self.nquads_malformed[batch_id]`` (quarantine-by-metric — the
        parsed flag is computed anyway, so this costs nothing extra).
        """
        if on_malformed not in ("error", "skip"):
            raise ValueError("on_malformed must be 'error' or 'skip'")
        if not hasattr(self, "nquads_malformed"):
            self.nquads_malformed: dict = {}
        from ..rdf import parse_nquads

        def _batch(lines_df, batch_id):
            parsed = parse_nquads(lines_df, line_col="value")
            bad = parsed.filter(F.col("malformed")).count()
            if bad and on_malformed == "error":
                raise ValueError(
                    f"batch {batch_id}: {bad} malformed N-Quads line(s)"
                )
            quads = parsed.filter(~F.col("malformed")).select(
                "s", "p", "o", "g"
            )
            self.process_batch(quads, batch_id)
            if bad:
                self.nquads_malformed[batch_id] = bad

        stream = self.spark.readStream.text(source_dir)
        writer = stream.writeStream.foreachBatch(_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_signed_file_stream(
        self,
        source_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        """CDC-style source: quads + an ``op`` column ('+'/'-'), routed
        through :meth:`process_signed_batch` (retracts before inserts
        within each micro-batch)."""
        stream = self.spark.readStream.schema(f"{QUAD_SCHEMA}, op string").parquet(
            source_dir
        )
        writer = stream.writeStream.foreachBatch(
            self.process_signed_batch
        ).option("checkpointLocation", checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def quad_stream_from_files(
    spark: SparkSession, source_dir: str
) -> DataFrame:
    """Convenience: a streaming DataFrame of quads from a parquet directory."""
    return spark.readStream.schema(QUAD_SCHEMA).parquet(source_dir)
