"""Semi-naive fixpoint of DataFrame self-joins.

Spark-native reimplementation of the reference's worklist loop
(``low_infer``, src/infer.rs:29-101, and the lineage-carrying variant
``low_prove``, src/prove.rs:90-165):

  reference (sequential)                 this module (set-at-a-time)
  ------------------------------------   -----------------------------------
  BTreeSet worklist of novel quads       checkpointed `delta` DataFrame
  insert + 6 sorted permutation indexes  union of checkpointed deltas
  apply_related per (new quad, rule)     k delta-substituted join plans per
                                         k-atom rule, unioned (matcher.py)
  `!rs.contains && !adding.contains`     dropDuplicates + left_anti vs facts
  arguments: BTreeMap or_insert          row_number first-wins per novel quad
  loop until worklist empty              loop until delta.count() == 0

The reference interleaves insertions within a batch (src/infer.rs:59-60);
because derivation is monotone, the fixpoint *set* is identical to this
synchronous formulation — each of our iterations makes every quad derivable
from (facts ∪ delta) with ≥1 delta atom visible, which is exactly the
visibility the reference's in-batch interleaving provides by the end of a
batch. Only per-quad first-derivation attribution can differ on ties; see
prove.py for the deterministic tie-break.

Scale design:
  * each iteration's delta is checkpointed (local + optional parquet) —
    mandatory, otherwise iterative-join lineage grows without bound;
  * `facts` lives in a :class:`FactStore`: SPOG-hash-partitioned, sorted,
    cached blocks with periodic prefix compaction. The novelty anti-join
    chains through the blocks with ZERO exchange/sort on the facts side
    (cache preserves partitioning + ordering — verified in PLANS.md), so
    per-iteration facts-side shuffle bytes are FLAT in store size;
    compaction also drops superseded delta checkpoints, bounding executor
    memory at ~O(store) instead of O(all history);
  * parquet checkpoints are delta-incremental: O(delta) write per
    iteration, a full base every compaction interval (resume = base ∪
    subsequent deltas);
  * the delta side of every join is broadcast while it fits
    (`broadcast_delta_max_rows`), turning the hot inner joins into
    shuffle-free broadcast-hash joins against the large fact set;
  * AQE (incl. skew-join splitting) is expected on; hot-predicate skew is
    additionally mitigated by the dictionary's hash ids spreading the key
    space, and per-predicate stats feed the static join order.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .checkpoint import CheckpointManager
from .matcher import bindings, lineage_cols, project_heads
from .rules import LoweredRule
from .session import floor_regime, scoped_conf, shuffle_width

SPOG = ["s", "p", "o", "g"]


class FactStore:
    """The accumulated fact set as s-hash-partitioned, sorted, cached
    blocks — the "bucketed fact store".

    Why blocks instead of a grow-forever union of checkpoints:
      * every block is ``repartition(P, s).sortWithinPartitions(s,p,o,g)``
        then persisted; Spark's cache PRESERVES that partitioning and
        ordering, so the per-iteration novelty anti-join chains through the
        blocks with ZERO exchange on the facts side (sorts stay local) —
        only the (small) candidate side shuffles. This is the local-mode
        analog of a bucketBy(s) table; at cluster scale the same blocks
        map to bucketed parquet;
      * blocks are periodically compacted (union → one shuffle → one
        block), which bounds plan depth, bounds the anti-join chain length,
        and drops the superseded delta checkpoints so executor memory holds
        ~O(store) instead of O(sum of all historical plans);
      * blocks spill to disk (MEMORY_AND_DISK), so a store larger than
        executor memory degrades to IO instead of OOM.
    """

    def __init__(
        self,
        spark: SparkSession,
        fixed_partitions: Optional[int] = None,
        compact_every: int = 8,
        rows_per_partition: int = 200_000,
    ):
        self.spark = spark
        self.fixed_partitions = fixed_partitions
        self.max_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.rows_per_partition = rows_per_partition
        self.compact_every = max(2, compact_every)
        self.blocks: list = []
        self.block_rows: list = []  # per-block row counts (tiering policy)
        self.partitions: Optional[int] = None  # picked at seed, grown at compaction
        self.total_rows = 0
        self.just_compacted = False
        # checkpoint backing the newest block, kept so the block can be
        # re-built at a new partition width when the store outgrows the one
        # picked at seed time (all blocks must share one width)
        self.last_src: Optional[DataFrame] = None

    def _pick_partitions(self, rows: int) -> int:
        """Block partition count: enough that a partition stays comfortably
        in memory, capped at the session's shuffle width. All blocks share
        one count — co-partitioned joins require it."""
        return max(1, min(self.max_partitions, rows // self.rows_per_partition + 1))

    def _mk_block(self, checkpointed_df: DataFrame) -> DataFrame:
        """Cached, s-hash-partitioned, sorted block over a CHECKPOINT-BACKED
        input. The checkpoint bounds the logical plan (consumers would
        otherwise nest every prior iteration's plan — exponential plan
        trees and driver OOM in plan stringification); the cache on top
        preserves the (hash-partition, sort) layout that checkpointing
        alone loses. The cache fills lazily inside the next job that reads
        the block — no extra per-iteration barrier.

        Partitioning is by ``s`` ALONE, not all of SPOG: rule-head
        candidates carry literal p/g columns, and Catalyst folds constants
        out of equi-join keys — a store partitioned on (s,p,o,g) would
        never satisfy the folded (s, o)-key join and re-exchange every
        iteration. s is a variable in every range-restricted head, and a
        single-column subset satisfies any folded key set (requires
        spark.sql.requireAllClusterKeysForCoPartition=false, set in
        session.py)."""
        return (
            checkpointed_df.repartition(self.partitions, "s")
            .sortWithinPartitions(*SPOG)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    def _finalize_if_chained(self, block: DataFrame) -> None:
        """In chained (large-store) mode, materialize the block NOW: an
        unfilled cache compiles as an unfinalized adaptive plan whose
        output partitioning is unknown, so consumer joins would plan an
        exchange anyway — the co-location property only holds against
        materialized blocks. In small-store (broadcast-anti) mode the fill
        stays lazy: partitioning is irrelevant there and the extra
        per-iteration job is pure overhead."""
        if self.total_rows > self.single_anti_max_rows:
            block.count()

    def seed(self, df: DataFrame, rows_hint: Optional[int] = None) -> tuple:
        """Initial store contents (one block); fixes the store partition
        count from the seed size (the fixpoint typically grows the store
        ~10x, so the sizing allows for growth; pass cfg.store_partitions to
        pin it on clusters). The seed plan is checkpointed BEFORE sizing so
        an expensive input (e.g. an extraction pipeline) computes once.
        Returns (seed checkpoint df, row count). The checkpoint is lazy —
        the sizing count (or, under rows_hint, the first consumer)
        materializes it, one job instead of two."""
        lc = df.localCheckpoint(eager=False)
        rows = rows_hint if rows_hint is not None else lc.count()
        self.partitions = self.fixed_partitions or self._pick_partitions(
            max(rows, 1) * 8
        )
        self.blocks = [self._mk_block(lc)]
        self.block_rows = [rows]
        self.total_rows = rows
        self.last_src = lc
        self._finalize_if_chained(self.blocks[0])
        self.just_compacted = False
        return lc, rows

    def stage_block(self, checkpointed_delta: DataFrame) -> DataFrame:
        """Build (but do not append) the next block over a checkpoint-backed
        delta. The caller runs the per-iteration novelty count ON this block
        — one job both fills the block cache (the materialization
        :meth:`_finalize_if_chained` used to pay a separate job for) and
        yields the count + predicate set. An empty delta just unpersists the
        staged block instead of appending it."""
        return self._mk_block(checkpointed_delta)

    def add_block(self, block: DataFrame, rows: int, src: DataFrame) -> None:
        """Append a staged (non-empty, cache-filled) block; compact the
        prefix when the chain grows — the newest block is never folded, so
        :meth:`union_except_last` (the semi-naive F_old) stays a cached
        block prefix. ``src`` is the checkpoint backing the block (kept for
        re-blocking at a grown partition width)."""
        self.blocks.append(block)
        self.block_rows.append(rows)
        self.total_rows += rows
        self.last_src = src
        self.just_compacted = False
        # compact on block-chain length OR on row growth: the width re-pick
        # (_maybe_grow_partitions) only runs at compaction, so a closure with
        # few iterations but steep growth (BIGRUN grew ~22x in 7 iterations —
        # under the default compact_every=8 it would never compact) must
        # also trigger here, or per-partition rows run unbounded over target
        # and the store degrades to spill
        outgrown = (
            self.fixed_partitions is None
            and len(self.blocks) >= 2
            and self.total_rows > self.partitions * self.rows_per_partition * 2
        )
        if outgrown:
            # width growth re-shuffles every block anyway — full fold
            self._compact_prefix()
        elif len(self.blocks) > self.compact_every:
            # chain too long but width still fits: fold only the geometric
            # TAIL of the prefix (LSM tiering). A long-running incremental
            # store otherwise pays an O(store) full fold every
            # ~compact_every/blocks-per-batch batches — the term that made
            # soak per-batch walls grow linearly with store size. Tiered
            # merges touch O(merged tail) rows, amortized O(log(store))
            # per appended row, and the chain stays O(log(store)) blocks.
            self._compact_tiered()

    def _maybe_grow_partitions(self) -> bool:
        """Re-pick the block width when the store outgrew it. Seed-time
        sizing allows ~8x growth; a closure that grows further (BIGRUN grew
        ~22x over its seed) would otherwise keep per-partition rows climbing
        without bound, gated only by spill. Called at compaction — where
        every prefix block re-shuffles anyway, so the wider merged block is
        free — with 2x headroom so a steadily-growing store re-blocks at
        most every other compaction. Deliberately NOT capped by the session
        shuffle width: bounded per-partition rows matter more than matching
        spark.sql.shuffle.partitions, and consumer joins simply exchange the
        (small) candidate side to the store's width."""
        if self.fixed_partitions is not None:
            return False
        if self.total_rows <= self.partitions * self.rows_per_partition:
            return False
        # 4x headroom on the re-pick (trigger stays at 2x over capacity):
        # a fold costs one O(store) shuffle, so the next fold must be far
        # away — with 4x headroom the store has to grow 8x past the fold
        # point to fold again, making total fold work a geometric sum
        # dominated by the FIRST (small) fold. The 2x headroom this
        # replaced re-folded the weak-scaling hi leg at ~50M rows (~+180 s
        # at 8 cores); with 4x that closure folds once, early, at ~12M.
        # Cost: partitions run up to ~4x under-full right after a fold —
        # a few hundred small tasks per exchange, noise next to the fold.
        self.partitions = self.total_rows * 4 // self.rows_per_partition + 1
        return True

    def _compact_prefix(self) -> None:
        """Fold all blocks but the newest into one. The fold goes through a
        fresh checkpoint, which unpins every superseded per-delta
        checkpoint (executor memory drops back to ~O(store)); the old block
        caches are unpersisted explicitly."""
        prefix, last = self.blocks[:-1], self.blocks[-1]
        # lazy: the merged block's finalize count (chained mode) or first
        # consumer materializes the fold in the same job
        flat = _union_all(prefix).localCheckpoint(eager=False)
        if self._maybe_grow_partitions():
            # co-partitioned joins need every block at one width, so the
            # newest block is re-built from its checkpoint at the new width
            # (one extra cache-fill job, amortized over compact_every
            # iterations and only on growth compactions)
            relast = self._mk_block(self.last_src)
            self._finalize_if_chained(relast)
            last.unpersist()
            last = relast
        merged = self._mk_block(flat)
        self._finalize_if_chained(merged)
        for b in prefix:
            b.unpersist()
        self.blocks = [merged, last]
        self.block_rows = [self.total_rows - self.block_rows[-1], self.block_rows[-1]]
        self.just_compacted = True

    def _compact_tiered(self) -> None:
        """Fold the maximal geometric suffix of the PREFIX into one block
        (the newest block always stays separate — it is the semi-naive
        F_new). Walking back from the newest prefix block accumulating S,
        a block joins the merge while its rows <= 4*S; the walk stops at
        the first block that dwarfs everything behind it (the store base).
        Sizes ahead of the merge point are then geometric with ratio >4,
        so the chain length is O(log4(store/batch)) and each appended row
        is re-shuffled O(log) times over the store's lifetime — vs the
        full fold's O(store) every compact_every appends. just_compacted
        is set here too: the hot-key rescan keyed to it is a sampled,
        bounded scan whose intent — re-check skew as the store evolves,
        amortized by compaction cadence — covers tiered merges as well
        (streaming configs run with stats/salting off, so no per-batch
        rescan there)."""
        m = len(self.blocks) - 1  # prefix = blocks[:m]
        j = m - 1
        acc = self.block_rows[j]
        while j - 1 >= 0 and self.block_rows[j - 1] <= 4 * acc:
            j -= 1
            acc += self.block_rows[j]
        if m - j < 2:
            j = m - 2  # nothing geometric to fold: merge the last two anyway
            acc = self.block_rows[j] + self.block_rows[j + 1]
        merged_src = self.blocks[j:m]
        flat = _union_all(merged_src).localCheckpoint(eager=False)
        merged = self._mk_block(flat)
        self._finalize_if_chained(merged)
        for b in merged_src:
            b.unpersist()
        self.blocks = self.blocks[:j] + [merged, self.blocks[m]]
        self.block_rows = self.block_rows[:j] + [acc, self.block_rows[m]]
        self.just_compacted = True

    def union(self) -> DataFrame:
        return _union_all(self.blocks)

    def union_except_last(self) -> DataFrame:
        if len(self.blocks) == 1:
            return self.blocks[0].limit(0)
        return _union_all(self.blocks[:-1])

    # below this store size a single anti against the union wins: the whole
    # store broadcasts once, instead of paying per-block join/broadcast
    # latency. Above it, the chained form keeps the facts side in place.
    single_anti_max_rows: int = 4_000_000

    def anti(self, cand: DataFrame) -> DataFrame:
        """cand minus the store.

        Small store: one left_anti against the union (AQE broadcasts the
        whole store as a single relation — minimal per-iteration latency).
        Large store: chained left_anti joins, one per block — the candidate
        side shuffles once, every block side is scanned in place
        (pre-partitioned + pre-sorted cache), so facts-side shuffle bytes
        stay FLAT as the store grows."""
        if self.total_rows <= self.single_anti_max_rows:
            return cand.join(self.union(), SPOG, "left_anti")
        out = cand
        for b in self.blocks:
            out = out.join(b, SPOG, "left_anti")
        return out


@dataclass
class InferConfig:
    encode_terms: bool = True
    collision_audit: bool = True
    # caller guarantees the input quads are already SPOG-unique (e.g. the
    # KG pipeline's canonical stage ends in dropDuplicates): skips the
    # seed-time dedup shuffle
    input_deduped: bool = False
    # delta-side broadcast cutoff (rows); above it joins fall back to
    # shuffle joins with AQE skew handling. The broadcast hash-table build
    # is SERIAL (driver collect + HashedRelation), so its relative cost
    # grows with parallelism (Amdahl): on the 1M-node-tree closure
    # (scripts/profile_fixpoint.py, local[8]/16g) an all-shuffle run beat
    # all-broadcast 147s vs 159s and raised 2->8-core scaling efficiency
    # 0.49 -> 0.70, while iterations with <=1M-row deltas still ran
    # slightly faster broadcast. 1M rows (~32 MB) keeps the tail-latency
    # win for small deltas and lets big deltas scale with cores; raise it
    # on clusters where facts >> delta makes avoiding the facts-side
    # exchange dominant.
    broadcast_delta_max_rows: int = 1_000_000
    # persistent checkpoints (resumable); None -> localCheckpoint only
    checkpoint_dir: Optional[str] = None
    resume: bool = False
    # prune iteration dirs older than the newest full-facts base after each
    # base commit, bounding checkpoint storage at O(store + one compaction
    # interval of deltas) instead of O(history). True keeps everything
    # (debugging / audit trails).
    checkpoint_retain_history: bool = False
    max_iterations: Optional[int] = None
    # per-predicate cardinality stats for join ordering; disabled when the
    # predicate vocabulary is unexpectedly large
    use_stats: bool = True
    stats_max_predicates: int = 10_000
    # collect threshold for driver-side proof argument recall
    collect_arguments_max_rows: int = 1_000_000
    # fact-store block chain length before prefix compaction; also the
    # cadence (in iterations) of full-facts checkpoint bases in parquet mode
    store_compact_every: int = 8
    # partition count of the bucketed fact store; None -> shuffle partitions
    store_partitions: Optional[int] = None
    # explicit hot-key salting for shuffle-joined iterations: term values
    # holding >= hot_value_min_share of the seed's s/o occurrences are
    # salted in every single-variable bindings join (skew.py). Broadcast
    # iterations are skew-immune and skip it; AQE skew-join still covers
    # undetected / emergent hot keys.
    salt_hot_values: bool = True
    hot_value_min_share: float = 0.2
    hot_value_top: int = 5
    hot_salt_n: int = 8
    # re-detect hot keys when the store compacts (every store_compact_every
    # iterations): a key that becomes hot mid-fixpoint (e.g. a hub node the
    # closure keeps reaching) is picked up without paying a per-iteration
    # scan. Detection samples the store, so the rescan is O(sample), not
    # O(store).
    rescan_hot_on_compact: bool = True
    # occurrence-sample target for hot-key detection; a >=20%-share key is
    # detected from ~1M sampled occurrences with overwhelming probability
    hot_scan_sample_rows: int = 1_000_000
    # rewrite linear transitive recursions (H <- B; H(x,z) <- B(x,y),H(y,z))
    # to the LFP-identical doubling form (H(x,z) <- H(x,y),H(y,z)) so a
    # k-deep chain closes in O(log k) iterations instead of O(k) — the
    # difference between 17 jobs and 100,000 jobs on a 100k-link chain.
    # Proof + eligibility conditions in rewrite.py; never applied in
    # lineage or goal-directed mode.
    rewrite_linear_recursion: bool = True
    # delegation of the PURE two-rule TC program to the unique-decomposition
    # doubling strategy (tc.py). False keeps the doubling REWRITE (above)
    # on the generic loop — the knob the generic-loop acceptance harnesses
    # (big_closure, resume_soak) use, so they measure the same ~O(log depth)
    # doubled program their historical artifacts did, minus the strategy.
    smart_tc: bool = True
    # predicate-level semi-naive refinement: skip delta-seeded join plans
    # whose seed atom has a constant predicate absent from this iteration's
    # delta (they are empty by construction). Costs one tiny distinct-p scan
    # of the checkpointed delta per iteration; saves whole join plans —
    # after round 1 of the KG pipeline the delta is all `depends_on`, so 4
    # of 6 seeded plans vanish. Disabled when the delta's predicate
    # vocabulary exceeds stats_max_predicates.
    prune_seed_plans: bool = True


@dataclass
class FixpointResult:
    facts: DataFrame                 # premises ∪ everything derived (deduped)
    arguments: Optional[DataFrame]   # lineage (prove mode): spog, rule_index, inst, iteration
    metrics: list = field(default_factory=list)
    iterations: int = 0
    facts_rows: int = 0
    # checkpoint-backed per-iteration deltas, populated only with
    # track_deltas=True (streaming IVM needs "what did this batch add"
    # without an O(store) diff; holding the refs pins the checkpoints, so
    # batch callers must drop the result when done)
    delta_dfs: list = field(default_factory=list)
    # True when this run restarted from a persisted checkpoint (delta_dfs
    # then misses pre-restart iterations — derived-set shortcuts must fall
    # back to the facts-minus-premises anti-join)
    resumed: bool = False
    # linear-recursion doubling rewrites applied to the rule set
    # (rewrite.py): [{"rule_index", "predicate"}, ...]
    rewrites: list = field(default_factory=list)


def _union_all(dfs: list) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _heap_mb(spark: SparkSession) -> int:
    """Driver/executor JVM heap in MB (local mode: one JVM)."""
    try:
        v = spark.sparkContext.getConf().get("spark.driver.memory", "8g")
    except Exception:
        v = "8g"
    v = v.strip().lower()
    mult = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if v[-1] in mult:
        return int(float(v[:-1]) * mult[v[-1]])
    return int(int(v) / (1024 * 1024))


def _broadcast_cutoff_rows(spark: SparkSession, cfg: InferConfig) -> int:
    """Effective delta-broadcast cutoff: the configured row cap, clamped by
    heap and by parallelism.

    Heap clamp: a broadcast HashedRelation over 128-bit quad keys costs
    ~2 KB/row all-in across build + driver copy; ~500 rows/MB keeps the
    build well under a quarter of the heap. A 4 GB two-core executor clamps
    to ~2M rows where the fixed 5M default OOMed.

    Cores clamp: the HashedRelation build is SERIAL, so its break-even
    shrinks as cores grow — the shuffle alternative costs ~rows/cores while
    the build stays ~rows (scripts/profile_fixpoint.py: all-shuffle beat
    all-broadcast at both 2 and 8 cores on multi-million-row deltas). The
    clamp holds the serial build to roughly the work one core does in a
    shuffled iteration: full cfg cutoff up to 8 cores, scaled down
    inversely beyond (32 cores -> 250k rows), floored at 64k where
    broadcast always wins on stage-latency alone."""
    cores = max(1, spark.sparkContext.defaultParallelism)
    cores_cap = max(64_000, cfg.broadcast_delta_max_rows * 8 // max(8, cores))
    return min(cfg.broadcast_delta_max_rows, _heap_mb(spark) * 500, cores_cap)


def _hot_values(facts: DataFrame, facts_rows: int, cfg: InferConfig) -> list:
    """Driver-side list of hot term literals: values holding at least
    ``hot_value_min_share`` of the facts' join-position (s/o) occurrences.
    Run at seed time and (when ``rescan_hot_on_compact``) at every store
    compaction; the result feeds ``matcher.bindings``'s targeted salting
    for iterations whose delta is too large to broadcast. Keys that turn
    hot between rescans are AQE skew-join's job.

    Detection samples down to ~``hot_scan_sample_rows`` occurrences when the
    store is large, so a rescan never shuffles the full store: a key at the
    0.2 share threshold appears ~200k times in a 1M sample (sampling error
    is negligible at that scale)."""
    from .matcher import term_lit

    if not cfg.salt_hot_values:
        return []
    dtype = facts.schema["s"].dataType
    occ = facts.select(F.col("s").alias("k")).unionByName(
        facts.select(F.col("o").alias("k"))
    )
    occ_rows = 2 * max(facts_rows, 1)
    frac = min(1.0, cfg.hot_scan_sample_rows / occ_rows)
    if frac < 1.0:
        occ = occ.sample(fraction=frac, seed=7)
    top = (
        occ.groupBy("k")
        .count()
        .orderBy(F.desc("count"))
        .limit(cfg.hot_value_top)
        .collect()
    )
    total = max(int(occ_rows * frac), 1)
    hot = [r["k"] for r in top if r["count"] / total >= cfg.hot_value_min_share]
    return [
        (term_lit(tuple(v) if not isinstance(v, (str, int)) else v, dtype),)
        for v in hot
    ]


def _norm_term(v):
    """Hashable driver-side form of a collected term value (128-bit struct
    ids arrive as Rows; lowered rule constants are tuples)."""
    return v if isinstance(v, (str, int)) else tuple(v)


def _limited_collect(df: DataFrame, n: int) -> list:
    """``limit(n).collect()`` in ONE Spark job. CollectLimit launches
    partition scans incrementally (1 partition, then scaleUpFactor x more,
    ...), which costs 2-3 micro-jobs + their submission gaps per call —
    measurable per-iteration overhead when the input is an aggregation
    output that is vocabulary-sized anyway. Only for aggregated inputs;
    raw limit-scans (e.g. the hot-key sampler) WANT the incremental
    launch.

    The limit conf is scoped with :func:`~rify_spark.session.scoped_conf`,
    under its single-tenant session contract (the concurrent dictionary
    audit thread only submits jobs whose plans are already compiled, so
    this perf-only conf cannot change its results)."""
    with scoped_conf(df.sparkSession) as set_conf:
        set_conf("spark.sql.limit.initialNumPartitions", 10000)
        return df.limit(n).collect()


def _delta_predicates(delta: DataFrame, cfg: InferConfig) -> Optional[set]:
    """The set of predicate values present in the (checkpointed) delta, or
    None when pruning is off / the vocabulary is too large to collect."""
    if not cfg.prune_seed_plans:
        return None
    rows = _limited_collect(
        delta.select("p").distinct(), cfg.stats_max_predicates + 1
    )
    if len(rows) > cfg.stats_max_predicates:
        return None
    return {_norm_term(r["p"]) for r in rows}


def _count_and_preds(df: DataFrame, cfg: InferConfig) -> tuple:
    """(row count, predicate set|None) of a checkpoint-backed delta in ONE
    Spark job in the common case: the per-predicate counts give both, so
    fusing the novelty count with the next iteration's prune set removes a
    driver barrier per iteration. With pruning off a plain count runs
    instead (still one job). Only the rare overflow case — more than
    stats_max_predicates distinct predicates in the delta — pays a second
    job (the truncated groupBy, then a plain count), once per overflowing
    iteration."""
    if not cfg.prune_seed_plans:
        return df.count(), None
    rows = _limited_collect(df.groupBy("p").count(), cfg.stats_max_predicates + 1)
    if len(rows) > cfg.stats_max_predicates:
        return df.count(), None
    return sum(r["count"] for r in rows), {_norm_term(r["p"]) for r in rows}


def _seed_plan_live(atom, delta_preds: Optional[set]) -> bool:
    """False iff the atom's predicate slot is a constant that no delta row
    carries — the delta-seeded plan for this position is empty by
    construction and can be skipped without changing the fixpoint."""
    if delta_preds is None:
        return True
    kind, val = atom[1]
    return kind != "c" or _norm_term(val) in delta_preds


def _predicate_stats(facts: DataFrame, cfg: InferConfig) -> Optional[dict]:
    if not cfg.use_stats:
        return None
    rows = _limited_collect(
        facts.groupBy("p").count(), cfg.stats_max_predicates + 1
    )
    if len(rows) > cfg.stats_max_predicates:
        return None
    return {r["p"]: r["count"] for r in rows}


def _seed_scan(facts: DataFrame, facts_rows: int, cfg: InferConfig) -> tuple:
    """Join-order predicate stats AND hot-key detection in ONE Spark job.

    Run separately these are two full passes over the seed with two driver
    barriers — pure fixed overhead that caps strong scaling (constant in
    data size at a given seed, serial-ish at high core counts). Fused: one
    union of (p-occurrences | sampled s/o-occurrences) tagged by kind, one
    groupBy, and the two driver-side limits read the SAME aggregation (AQE
    reuses the exchange between the branches), collected in one action.
    Semantics match :func:`_predicate_stats` + :func:`_hot_values` exactly;
    the latter stays for the compaction-time rescan."""
    from .matcher import term_lit

    want_stats = cfg.use_stats
    want_hot = cfg.salt_hot_values
    if not (want_stats or want_hot):
        return None, []
    dtype = facts.schema["s"].dataType
    branches = []
    frac = 1.0
    occ_rows = 2 * max(facts_rows, 1)
    if want_stats:
        branches.append(
            facts.select(F.lit(False).alias("so"), F.col("p").alias("k"))
        )
    if want_hot:
        occ = facts.select(F.col("s").alias("k")).unionByName(
            facts.select(F.col("o").alias("k"))
        )
        frac = min(1.0, cfg.hot_scan_sample_rows / occ_rows)
        if frac < 1.0:
            occ = occ.sample(fraction=frac, seed=7)
        branches.append(occ.select(F.lit(True).alias("so"), "k"))
    cnt = _union_all(branches).groupBy("so", "k").count()
    parts = []
    if want_stats:
        parts.append(cnt.filter(~F.col("so")).limit(cfg.stats_max_predicates + 1))
    if want_hot:
        parts.append(
            cnt.filter(F.col("so")).orderBy(F.desc("count")).limit(cfg.hot_value_top)
        )
    rows = _union_all(parts).collect()
    stats = None
    if want_stats:
        prows = [r for r in rows if not r["so"]]
        if len(prows) <= cfg.stats_max_predicates:
            stats = {r["k"]: r["count"] for r in prows}
    hot = []
    if want_hot:
        total = max(int(occ_rows * frac), 1)
        hrows = sorted((r for r in rows if r["so"]), key=lambda r: -r["count"])
        hot = [
            (term_lit(_norm_term(r["k"]), dtype),)
            for r in hrows[: cfg.hot_value_top]
            if r["count"] / total >= cfg.hot_value_min_share
        ]
    return stats, hot


def job_fingerprint(lrules: list, dtype_str: str, lineage: bool) -> str:
    """Deterministic identity of a fixpoint job: the lowered rule set (body/
    head slot structure and constant values), the engine value type, and
    whether lineage is maintained. Stamped into checkpoint meta.json so a
    resume against a different job's directory is refused."""
    h = hashlib.sha256()
    h.update(f"dtype={dtype_str};lineage={lineage};".encode())
    for r in lrules:
        h.update(f"r{r.index}:{r.body!r}->{r.head!r};n={r.n_vars}".encode())
    return h.hexdigest()[:32]


def unconditional_heads(lrules: list) -> list:
    """Driver-side literal head quads of empty-body rules, in rule order.

    Range restriction guarantees these heads are all-constant
    (src/rule.rs:72-86), so no join is needed — mirrors the pre-loop seeding
    at src/infer.rs:36-50 / src/prove.rs:100-121. Returns
    [(s, p, o, g, rule_index), ...] with first-wins dedup across rules.
    """
    out = []
    seen = set()
    for r in lrules:
        if not r.unconditional:
            continue
        for atom in r.head:
            quad = tuple(slot[1] for slot in atom)
            if quad not in seen:
                seen.add(quad)
                out.append((*quad, r.index))
    return out


def fixpoint(
    spark: SparkSession,
    facts0: DataFrame,
    lrules: list,
    cfg: Optional[InferConfig] = None,
    lineage: bool = False,
    goals: Optional[DataFrame] = None,
    initial_arguments: Optional[DataFrame] = None,
    delta0: Optional[DataFrame] = None,
    reuse_store: Optional[FactStore] = None,
    track_deltas: bool = False,
) -> FixpointResult:
    """Run rules to fixpoint over an already-deduplicated quad DataFrame.

    ``facts0`` must be deduplicated and already include unconditional-rule
    heads (see :func:`seed_facts`). With ``lineage=True`` a first-wins
    arguments table is maintained; with ``goals`` the loop exits early once
    every goal quad is present (src/prove.rs:124). ``delta0`` restricts the
    first round's worklist (incremental mode: ``facts0`` minus ``delta0``
    is already a fixpoint, so only derivations touching ``delta0`` can be
    new); by default the whole of ``facts0`` is the first worklist.

    ``reuse_store``: an already-seeded live :class:`FactStore` (streaming
    IVM keeps one across micro-batches so per-batch cost reads cached
    blocks, never the full persisted store). When given, ``facts0`` is
    ignored apart from its schema and ``delta0`` MUST carry the novel
    quads (already present in the store); new derivations are appended to
    the store in place.
    """
    cfg = cfg or InferConfig()
    rewrites: list = []
    if cfg.rewrite_linear_recursion and not lineage and goals is None:
        # O(depth) -> O(log depth) iterations for linear transitive shapes;
        # LFP-preserving (see rewrite.py). Lineage keeps the user's rules
        # (proof steps must replay them); goal mode keeps the early-exit
        # iteration evaluation-order-independent. Applied BEFORE the
        # checkpoint fingerprint so resume pairs with the rewritten program.
        from .rewrite import rewrite_linear_doubling

        orig_lrules = lrules
        lrules, rewrites = rewrite_linear_doubling(lrules)
        delegate = (
            cfg.smart_tc
            and len(rewrites) == 1
            and rewrites[0]["smart_eligible"]
            and delta0 is None
            and reuse_store is None
            and initial_arguments is None
        )
        if delegate and cfg.checkpoint_dir and cfg.resume:
            # pre-upgrade migration: a checkpoint directory written by the
            # GENERIC loop for this same program (before smart TC took
            # checkpoint mode, or with smart_tc=False) must keep resuming
            # on the generic loop instead of failing the smart fingerprint
            existing = CheckpointManager(
                spark, cfg.checkpoint_dir
            ).existing_fingerprint()
            if existing is not None and not existing.startswith("smart_tc:"):
                delegate = False
        if delegate:
            # Pure two-rule TC program in batch mode: delegate to the
            # unique-decomposition doubling strategy (tc.py) — same LFP,
            # O(log depth) rounds AND O(|closure|) total join output (the
            # plain doubling rewrite re-derives each pair once per split
            # point, quadratic on chains). Checkpoint mode delegates too
            # (smart TC persists store + D wavefront per round, own
            # fingerprint namespace); incremental/streaming modes keep the
            # generic loop.
            from .tc import smart_tc_fixpoint

            return smart_tc_fixpoint(
                spark, facts0, rewrites[0], cfg,
                # res.rewrites reports rule MODIFICATIONS; the nonlinear
                # record is detection-only (user's rules ran unmodified)
                [rc for rc in rewrites if rc.get("shape") == "linear"],
                track_deltas=track_deltas,
            )
        # nonlinear-shape records are detection-only (no rule modified);
        # outside the smart path they are inert — drop them so the probe
        # below and res.rewrites reflect actual rule changes
        rewrites = [rc for rc in rewrites if rc.get("shape") == "linear"]
        if not rewrites:
            lrules = orig_lrules
        if rewrites:
            # Generic loop would evaluate the NONLINEAR form, which composes
            # H-facts with each other — unsound when the premises already
            # contain H-facts: the linear LFP only B-prefixes them (B^k∘H0),
            # it never derives H0∘H0. (Smart TC above is exact for H0 — it
            # composes B-powers onto the store, never H∘H.) Keep the rewrite
            # only for predicates with no premise H-fact: one pushed-filter
            # probe job on the seed, paid only when a rewrite reaches the
            # generic path (checkpoint mode / bystander rules).
            import functools
            import operator

            from .matcher import term_lit

            dtype_p = facts0.schema["p"].dataType
            probe = functools.reduce(
                operator.or_,
                [
                    facts0["p"] == term_lit(rc["predicate"], dtype_p)
                    for rc in rewrites
                ],
            )
            present = {
                r[0] for r in facts0.where(probe).select("p").distinct().collect()
            }
            if present:
                by_index = {r.index: r for r in orig_lrules}
                for rc in rewrites:
                    if rc["predicate"] in present:
                        pos = next(
                            i
                            for i, r in enumerate(lrules)
                            if r.index == rc["rule_index"]
                        )
                        lrules[pos] = by_index[rc["rule_index"]]
                rewrites = [
                    rc for rc in rewrites if rc["predicate"] not in present
                ]
    dtype = facts0.schema["s"].dataType
    cond_rules: list = [r for r in lrules if not r.unconditional]
    ckpt = (
        CheckpointManager(
            spark,
            cfg.checkpoint_dir,
            fingerprint=job_fingerprint(lrules, dtype.simpleString(), lineage),
        )
        if cfg.checkpoint_dir
        else None
    )

    metrics: list = []
    arguments: Optional[DataFrame] = None
    it = 0
    store = reuse_store or FactStore(
        spark,
        fixed_partitions=cfg.store_partitions,
        compact_every=cfg.store_compact_every,
    )
    last_base = 0  # iteration of the newest full-facts parquet base

    # prove-mode lineage accumulates as a list of checkpoint-backed blocks
    # (iteration-0 seed + one localCheckpoint per iteration): the plan of
    # the final union is a flat N-leaf scan, so no periodic full-table
    # re-checkpoint is needed, and parquet persistence is per-block O(delta)
    arg_blocks: list = []

    resumed = None
    if ckpt and cfg.resume:
        resumed = ckpt.latest()
    if resumed is not None:
        it, facts_df, delta_df, arguments, meta = resumed
        seed_lc, facts_rows = store.seed(facts_df, rows_hint=meta.get("facts_rows"))
        delta = delta_df.localCheckpoint(eager=True)
        delta_rows = meta.get("delta_rows", delta.count())
        last_base = meta.get("base_iter", it)
        # F_old for the next round (non-redundant decomposition)
        facts_old = seed_lc.join(delta, SPOG, "left_anti").localCheckpoint(
            eager=True
        )
        metrics.append({"iteration": it, "resumed": True, "delta_rows": delta_rows})
    elif reuse_store is not None:
        seed_lc = store.union()
        facts_rows = store.total_rows
        if delta0 is None:
            delta = seed_lc
            delta_rows = facts_rows
            facts_old = seed_lc.limit(0)
        else:
            delta = delta0.localCheckpoint(eager=True)
            delta_rows = delta.count()
            # the caller appended the delta as the store's newest block, so
            # the semi-naive F_old is exactly the cached block prefix — no
            # O(store) anti-join/checkpoint per micro-batch
            facts_old = store.union_except_last()
    else:
        seed_lc, facts_rows = store.seed(facts0)
        if delta0 is not None:
            delta = delta0.localCheckpoint(eager=True)
            delta_rows = delta.count()
            facts_old = seed_lc.join(delta, SPOG, "left_anti").localCheckpoint(
                eager=True
            )
        else:
            delta = seed_lc
            delta_rows = facts_rows
            facts_old = seed_lc.limit(0)
        if lineage:
            # iteration-0 arguments (unconditional-rule heads) come from the
            # caller; see prove.py.
            arguments = (
                initial_arguments
                if initial_arguments is not None
                else spark.createDataFrame(
                    [],
                    f"s {dtype.simpleString()}, p {dtype.simpleString()}, "
                    f"o {dtype.simpleString()}, g {dtype.simpleString()}, "
                    f"rule_index long, inst array<{dtype.simpleString()}>, iteration long",
                )
            )
    if arguments is not None:
        arg_blocks.append(arguments)

    tracked_deltas: list = []
    broadcast_cutoff = _broadcast_cutoff_rows(spark, cfg)
    goals_n = goals.count() if goals is not None else 0

    def goals_met() -> bool:
        if goals is None or goals_n == 0:
            return goals is not None
        return goals.join(store.union(), SPOG, "left_anti").count() == 0

    stats, hot_lits = (
        _seed_scan(seed_lc, facts_rows, cfg) if cond_rules else (None, [])
    )
    # predicate set of the CURRENT delta (drives seed-plan pruning),
    # maintained for free by _count_and_preds after each iteration. When the
    # first delta IS the seed, the join-order stats already hold its
    # predicate set — reuse instead of paying another scan.
    if not cond_rules:
        delta_preds = None
    elif delta is seed_lc and stats is not None and cfg.prune_seed_plans:
        delta_preds = {_norm_term(p) for p in stats}
    else:
        delta_preds = _delta_predicates(delta, cfg)

    with scoped_conf(spark) as set_conf:
        # constraint propagation walks every operator's expression set at
        # optimization time — a measurable slice of the per-iteration driver
        # floor on the fixpoint's iteration-deep join/union plans (profiled
        # ~0.5 s/iteration on the 100k-file pipeline) and useless here: quad
        # columns are non-null by construction and every join is an inner
        # equi-join. Scoped to THIS fixpoint run because the global off was
        # measured to cost the shallow ops queries ~10% (knn_lsh A/B,
        # AB_KNN_LSH.json) — they keep the Spark default.
        set_conf("spark.sql.constraintPropagation.enabled", False)
        session_width = shuffle_width(spark)
        while delta_rows > 0 and cond_rules:
            if goals is not None and goals_met():
                break
            if cfg.max_iterations is not None and it >= cfg.max_iterations:
                break
            it += 1
            t0 = time.time()
            # codegen, AQE and shuffle width keyed to the live delta size
            floor_regime(set_conf, delta_rows, session_width)

            broadcast_delta = delta_rows <= broadcast_cutoff
            delta_src = F.broadcast(delta) if broadcast_delta else delta
            # broadcast-hash joins stream the big side, so hot keys cost
            # nothing extra; explicit salting applies only to shuffle-joined
            # iterations
            hot = hot_lits if (hot_lits and not broadcast_delta) else None
            facts = store.union()

            plans = []
            for r in cond_rules:
                extra = lineage_cols(r, dtype) if lineage else ()
                for i in range(len(r.body)):
                    if not _seed_plan_live(r.body[i], delta_preds):
                        continue
                    b = bindings(
                        facts,
                        r,
                        delta=delta_src,
                        seed_pos=i,
                        stats=stats,
                        facts_old=facts_old,
                        hot_values=hot,
                        salt_n=cfg.hot_salt_n,
                    )
                    plans.append(project_heads(b, r, dtype, extra))
            if not plans:
                # every seeded plan is predicate-dead: nothing in the delta
                # can fire any rule, so the fixpoint is reached
                metrics.append(
                    {"iteration": it, "delta_rows": 0, "plans_built": 0,
                     "wall_s": round(time.time() - t0, 4)}
                )
                break

            # ONE explicit exchange for the whole post-candidate pipeline: the
            # candidate set is hash-partitioned by s at the store's width, which
            # (a) satisfies the SPOG dedup / first-wins-window clustering
            # requirement via subset satisfaction (verified: zero added
            # exchange), and (b) co-partitions the anti-join with every store
            # block (zero exchange either side). Without it the delta pays a
            # spog-dedup exchange AND an s-exchange at the anti-join.
            cand = _union_all(plans).repartition(store.partitions, "s")
            if lineage:
                novel = store.anti(cand)
                w = Window.partitionBy(*SPOG).orderBy("rule_index", "inst")
                picked = (
                    novel.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                    .withColumn("iteration", F.lit(it).cast("long"))
                )
                new_full = picked.localCheckpoint(eager=False)
                new = new_full.select(*SPOG)
            else:
                new_full = None
                new = store.anti(cand.dropDuplicates(SPOG)).localCheckpoint(eager=False)
            # LAZY checkpoint + count-on-block = ONE Spark job per iteration for
            # the whole candidate->anti->checkpoint->block->count pipeline: the
            # count materializes the checkpoint (lineage truncation) and fills
            # the block's (s-partitioned, sorted) cache as side effects, and
            # yields the count + next prune set. Eager checkpoint + separate
            # count + separate block fill was three driver barriers.
            block = store.stage_block(new)
            delta_rows, delta_preds = _count_and_preds(block, cfg)
            if lineage and delta_rows:
                arg_blocks.append(new_full)
                arguments = _union_all(arg_blocks)

            if delta_rows == 0:
                block.unpersist()
                metrics.append(
                    {"iteration": it, "delta_rows": 0, "wall_s": round(time.time() - t0, 4)}
                )
                break

            store.add_block(block, rows=delta_rows, src=new)
            if track_deltas:
                tracked_deltas.append(new)
            facts_old = store.union_except_last()
            facts_rows += delta_rows
            delta = new
            if store.just_compacted and cfg.rescan_hot_on_compact:
                # emergent hot keys: re-detect on the compacted store (sampled —
                # O(hot_scan_sample_rows), amortized 1/store_compact_every)
                hot_lits = _hot_values(store.union(), facts_rows, cfg)
            metrics.append({
                "iteration": it,
                "delta_rows": delta_rows,
                "facts_rows": facts_rows,
                "plans_built": len(plans),
                "wall_s": round(time.time() - t0, 4),
                # the delta lives in the store as an s-partitioned block at the
                # store width — report that instead of new.rdd.getNumPartitions(),
                # whose DataFrame->RDD conversion compiles the full plan and cost
                # a measurable slice of every iteration (profiled ~0.5-1.5 s/iter)
                "delta_partitions": store.partitions,
                "store_blocks": len(store.blocks),
                "store_partitions": store.partitions,
                "compacted": store.just_compacted,
            })
            if ckpt:
                # first saved iteration always writes a base (== the old
                # `it == 1`: resumed runs restart past 1 with last_base > 0)
                write_base = ckpt.base_due(it, last_base, cfg.store_compact_every)
                if write_base:
                    last_base = it
                ckpt.save_iteration(
                    it,
                    delta,
                    arguments=arguments if (lineage and write_base) else None,
                    arguments_delta=new_full if lineage else None,
                    facts=store.union() if write_base else None,
                    extra_meta={
                        "facts_rows": facts_rows,
                        "delta_rows": delta_rows,
                        "base_iter": last_base,
                    },
                )
                if lineage and write_base:
                    # re-point the lineage union at the base parquet just
                    # written: bounds the union plan width to base + tail
                    # blocks AND drops any dependency a RESUMED run carried
                    # on older checkpoint files (about to be pruned below) —
                    # without this, the next base write or a post-run
                    # res.arguments consumer would re-read pruned parquet
                    arguments = spark.read.parquet(ckpt.arguments_path(it))
                    arg_blocks.clear()
                    arg_blocks.append(arguments)
                if write_base and not cfg.checkpoint_retain_history:
                    ckpt.prune(last_base)

    return FixpointResult(
        facts=store.union(),
        arguments=arguments,
        metrics=metrics,
        iterations=it,
        facts_rows=facts_rows,
        delta_dfs=tracked_deltas,
        resumed=resumed is not None,
        rewrites=rewrites,
    )


def seed_facts(
    spark: SparkSession,
    premises: DataFrame,
    lrules: list,
    dtype_str: str = "string",
    assume_deduped: bool = False,
) -> DataFrame:
    """Deduplicated premises ∪ unconditional-rule heads (src/infer.rs:32-50).

    ``assume_deduped`` skips the SPOG dedup shuffle when the caller
    guarantees uniqueness (the KG pipeline's canonical quads end in a
    dropDuplicates, so re-deduplicating the seed is a wasted full-input
    shuffle). With unconditional heads present the union is re-deduped
    regardless — heads may repeat premises.
    """
    facts = premises if assume_deduped else premises.dropDuplicates(SPOG)
    heads = unconditional_heads(lrules)
    if heads:
        hdf = spark.createDataFrame(
            [h[:4] for h in heads],
            f"s {dtype_str}, p {dtype_str}, o {dtype_str}, g {dtype_str}",
        )
        facts = facts.unionByName(hdf).dropDuplicates(SPOG)
    return facts


def derived_facts(
    spark: SparkSession,
    res: FixpointResult,
    premises_dedup: DataFrame,
    lrules: list,
    dtype_str: str = "string",
) -> DataFrame:
    """facts ∖ premises WITHOUT the O(store) anti-join.

    Every store block after the seed holds exactly the quads that were
    novel at its iteration (the per-iteration anti-join guarantees it), so
    the derived set IS the union of the tracked per-iteration deltas, plus
    any unconditional-rule heads that were not premises. At scale this
    replaces a full facts-vs-premises shuffle with a checkpoint-union scan
    of just the derived rows. Resumed runs lack pre-restart deltas and fall
    back to the anti-join (src/infer.rs:9-26 semantics either way).
    """
    if res.resumed:
        return res.facts.join(premises_dedup, SPOG, "left_anti")
    parts = list(res.delta_dfs)
    heads = unconditional_heads(lrules)
    if heads:
        hdf = spark.createDataFrame(
            [h[:4] for h in heads],
            f"s {dtype_str}, p {dtype_str}, o {dtype_str}, g {dtype_str}",
        )
        # heads ∖ premises with the SMALL side as the broadcast build:
        # stream the premises once for the tiny intersection, subtract
        # driver-side (an anti-join would hash-build the large premises)
        from pyspark.sql import functions as F  # local alias for clarity

        present = {
            tuple(r)
            for r in premises_dedup.join(
                F.broadcast(hdf), SPOG, "left_semi"
            ).collect()
        }
        missing = [h[:4] for h in heads if h[:4] not in present]
        if missing:
            parts.append(
                spark.createDataFrame(
                    missing,
                    f"s {dtype_str}, p {dtype_str}, o {dtype_str}, g {dtype_str}",
                )
            )
    if not parts:
        return res.facts.limit(0)
    return _union_all(parts)
