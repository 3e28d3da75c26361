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
  * AQE (incl. skew-join splitting) is expected on; hot s/o values are
    salted explicitly on shuffle-joined iterations (skew.py), and
    per-predicate stats feed the static join order.

Rules are never rewritten. The one program with its own evaluation is the
pure transitive closure (copy rule plus one linear or nonlinear
recursion): in batch mode it runs on smart TC (tc.py), O(log depth)
rounds with a unique decomposition per derived pair.
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
from .tc import detect_tc, smart_tc_fixpoint

SPOG = ["s", "p", "o", "g"]
# the engine's one value type: every quad column holds a string term
QUAD_SCHEMA = "s string, p string, o string, g string"
# predicate-vocabulary cap of the driver-side statistics: join-order stats
# and seed-plan pruning switch off for a relation with more distinct
# predicates (one extra row is collected to detect the overflow)
STATS_MAX_PREDICATES = 10_000
# hot-key detection keeps the HOT_VALUE_TOP most frequent s/o values of a
# ~HOT_SCAN_SAMPLE_ROWS occurrence sample; a key at the 0.2 share threshold
# appears ~200k times in a 1M sample, so sampling error is negligible
HOT_VALUE_TOP = 5
HOT_SCAN_SAMPLE_ROWS = 1_000_000


class FactStore:
    """The accumulated fact set as s-hash-partitioned, sorted, cached
    blocks — the "bucketed fact store". Callers only build candidates;
    every write goes through :meth:`seed`, :meth:`novel` → :meth:`append`,
    :meth:`rebuild` and :meth:`release`, which keep the invariants: one
    width for all blocks, the newest block backed by ``last_src``,
    ``block_rows`` summing to ``total_rows``, replaced blocks unpersisted.
    Reads: :meth:`anti`, :meth:`union`, :meth:`union_except_last` and those
    attributes.

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
        self.max_partitions = shuffle_width(spark)
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
        ~10x, so the sizing allows for growth; ``fixed_partitions`` pins
        it). The seed plan is checkpointed BEFORE sizing so an expensive
        input (e.g. an extraction pipeline) computes once. Blocks the store
        already holds are released.
        Returns (seed checkpoint df, row count). The checkpoint is lazy —
        the sizing count (or, under rows_hint, the first consumer)
        materializes it, one job instead of two."""
        self.release()
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

    def release(self) -> None:
        """Unpersist every block; the store is empty afterwards."""
        for b in self.blocks:
            b.unpersist()
        self.blocks, self.block_rows = [], []
        self.total_rows = 0
        self.last_src = None

    def novel(self, cand: DataFrame) -> DataFrame:
        """The distinct quads of ``cand`` the store lacks, as a lazy
        checkpoint for :meth:`append`. Hash-partitioning ``cand`` by s at
        the store's width is the ONE exchange: it satisfies the SPOG
        dedup's clustering (subset satisfaction, verified: no added
        exchange) and co-partitions the anti with every store block."""
        return self.anti(
            cand.repartition(self.partitions, "s").dropDuplicates(SPOG)
        ).localCheckpoint(eager=False)

    @staticmethod
    def _count_and_preds(df: DataFrame) -> tuple:
        """(row count, predicate set|None) of a checkpoint-backed delta in ONE
        Spark job in the common case: the per-predicate counts give both, so
        fusing the novelty count with the next iteration's prune set removes a
        driver barrier per iteration. Only the rare overflow case — more than
        STATS_MAX_PREDICATES distinct predicates in the delta (pruning then
        stays off for that iteration) — pays a second job (the truncated
        groupBy, then a plain count)."""
        rows = _limited_collect(df.groupBy("p").count(), STATS_MAX_PREDICATES + 1)
        if len(rows) > STATS_MAX_PREDICATES:
            return df.count(), None
        return sum(r["count"] for r in rows), {r["p"] for r in rows}

    def append(self, src: DataFrame, with_preds: bool = False) -> tuple:
        """Append the checkpoint-backed quads ``src`` (disjoint from the
        store: :meth:`novel`'s output) as the newest block, in ONE Spark job
        that counts the block — filling its cache and, for a lazy ``src``,
        the checkpoint. ``with_preds`` counts per predicate, which also
        yields the predicate set. An empty block is unpersisted, not
        appended; a non-empty one may trigger compaction, which never folds
        the newest block (:meth:`union_except_last`, the semi-naive F_old,
        stays a cached prefix). Returns ``(rows, predicate set | None)``."""
        block = self._mk_block(src)
        if with_preds:
            rows, preds = self._count_and_preds(block)
        else:
            rows, preds = block.count(), None
        if rows == 0:
            block.unpersist()
            return 0, preds
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
        return rows, preds

    def rebuild(self, plan: DataFrame) -> int:
        """Replace every block with one block over ``plan`` (a query over
        the store's own blocks, e.g. DRed's subtraction) at the current
        width, in one Spark job. Returns the new row count."""
        rows, src = self._fold(0, len(self.blocks), plan)
        self.total_rows = rows
        self.last_src = src
        return rows

    def _fold(
        self, lo: int, hi: int, plan: Optional[DataFrame] = None,
        rows: Optional[int] = None,
    ) -> tuple:
        """Replace ``blocks[lo:hi]`` with one block over ``plan`` (default:
        their union) through a fresh lazy checkpoint, which unpins the
        superseded checkpoints (executor memory drops back to ~O(store)).
        Unknown ``rows`` are counted, which materializes the block now;
        known ones leave that to :meth:`_finalize_if_chained`. Returns
        ``(rows, checkpoint)``."""
        old = self.blocks[lo:hi]
        flat = (plan if plan is not None else _union_all(old)).localCheckpoint(
            eager=False
        )
        merged = self._mk_block(flat)
        if rows is None:
            rows = merged.count()
        else:
            self._finalize_if_chained(merged)
        for b in old:
            b.unpersist()
        self.blocks[lo:hi] = [merged]
        self.block_rows[lo:hi] = [rows]
        self.just_compacted = True
        return rows, flat

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
        """Fold all blocks but the newest into one, re-picking the width
        first when the store outgrew it."""
        if self._maybe_grow_partitions():
            # co-partitioned joins need every block at one width, so the
            # newest block is re-built from its checkpoint at the new width
            # (one extra cache-fill job, amortized over compact_every
            # iterations and only on growth compactions)
            relast = self._mk_block(self.last_src)
            self._finalize_if_chained(relast)
            self.blocks[-1].unpersist()
            self.blocks[-1] = relast
        self._fold(
            0, len(self.blocks) - 1, rows=self.total_rows - self.block_rows[-1]
        )

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
        self._fold(j, m, rows=acc)

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
    """Fixpoint knobs. There is no term-encoding knob: the engine runs on
    the string terms themselves (strings were faster on every corpus
    measured, 160-character IRIs included — NOTES.md, "String terms by
    default")."""

    # caller guarantees the input quads are already SPOG-unique (e.g. the
    # KG pipeline's canonical stage ends in dropDuplicates): skips the
    # seed-time dedup shuffle
    input_deduped: bool = False
    # delta-side broadcast cutoff (rows); above it joins fall back to
    # shuffle joins with AQE skew handling. The broadcast hash-table build
    # is SERIAL (driver collect + HashedRelation), so its relative cost
    # grows with parallelism (Amdahl): on the 1M-node-tree closure
    # (local[8]/16g, NOTES.md "Broadcast-vs-shuffle profiled") an
    # all-shuffle run beat all-broadcast 147s vs 159s and raised 2->8-core
    # scaling efficiency 0.49 -> 0.70, while iterations with <=1M-row
    # deltas still ran slightly faster broadcast. 1M rows (~32 MB) keeps
    # the tail-latency win for small deltas and lets big deltas scale with
    # cores; raise it on clusters where facts >> delta makes avoiding the
    # facts-side exchange dominant.
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
    # predicate vocabulary exceeds STATS_MAX_PREDICATES
    use_stats: bool = True
    # fact-store block chain length before prefix compaction; also the
    # cadence (in iterations) of full-facts checkpoint bases in parquet mode
    store_compact_every: int = 8
    # explicit hot-key salting for shuffle-joined iterations: term values
    # holding >= hot_value_min_share of the seed's s/o occurrences are
    # salted in every single-variable bindings join (skew.py). Broadcast
    # iterations are skew-immune and skip it; AQE skew-join still covers
    # undetected / emergent hot keys (and every store compaction re-detects,
    # see _seed_scan).
    salt_hot_values: bool = True
    hot_value_min_share: float = 0.2


@dataclass
class FixpointResult:
    """The outcome of :func:`fixpoint`. A run that smart TC evaluated
    (tc.py) tags every ``metrics`` record ``strategy: "smart_tc"``; the
    generic loop's records carry no strategy."""

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
    # the FactStore this run created and ``facts`` reads; None when the
    # caller passed its own (``reuse_store``), which stays the caller's
    store: Optional[FactStore] = None

    def release(self) -> None:
        """Unpersist the blocks of the store this run created. ``facts``
        and every DataFrame derived from it recompute from their
        checkpoints afterwards, so call it once they are no longer read."""
        if self.store is not None:
            self.store.release()


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

    Heap clamp: a broadcast HashedRelation over quad keys (measured when
    they were 128-bit ids) costs ~2 KB/row all-in across build + driver
    copy; ~500 rows/MB keeps the build well under a quarter of the heap. A
    4 GB two-core executor clamps to ~2M rows where the fixed 5M default
    OOMed.

    Cores clamp: the HashedRelation build is SERIAL, so its break-even
    shrinks as cores grow — the shuffle alternative costs ~rows/cores while
    the build stays ~rows (NOTES.md "Broadcast-vs-shuffle profiled":
    all-shuffle beat all-broadcast at both 2 and 8 cores on
    multi-million-row deltas). The clamp holds the serial build to roughly
    the work one core does in a shuffled iteration: full cfg cutoff up to
    8 cores, scaled down inversely beyond (32 cores -> 250k rows), floored
    at 64k where broadcast always wins on stage-latency alone."""
    cores = max(1, spark.sparkContext.defaultParallelism)
    cores_cap = max(64_000, cfg.broadcast_delta_max_rows * 8 // max(8, cores))
    return min(cfg.broadcast_delta_max_rows, _heap_mb(spark) * 500, cores_cap)


def _limited_collect(df: DataFrame, n: int) -> list:
    """``limit(n).collect()`` in ONE Spark job. CollectLimit launches
    partition scans incrementally (1 partition, then scaleUpFactor x more,
    ...), which costs 2-3 micro-jobs + their submission gaps per call —
    measurable per-iteration overhead when the input is an aggregation
    output that is vocabulary-sized anyway. Only for aggregated inputs;
    raw limit-scans (e.g. the hot-key sampler) WANT the incremental
    launch.

    The limit conf is scoped with :func:`~rify_spark.session.scoped_conf`,
    under its single-tenant session contract."""
    with scoped_conf(df.sparkSession) as set_conf:
        set_conf("spark.sql.limit.initialNumPartitions", 10000)
        return df.limit(n).collect()


def _seed_plan_live(atom, delta_preds: Optional[set]) -> bool:
    """False iff the atom's predicate slot is a constant that no delta row
    carries — the delta-seeded plan for this position is empty by
    construction and can be skipped without changing the fixpoint."""
    if delta_preds is None:
        return True
    kind, val = atom[1]
    return kind != "c" or val in delta_preds


def _seed_scan(
    facts: DataFrame, facts_rows: int, cfg: InferConfig, hot_only: bool = False
) -> tuple:
    """Join-order predicate stats AND hot-key detection in ONE Spark job.

    Run separately these are two full passes over the seed with two driver
    barriers — pure fixed overhead that caps strong scaling (constant in
    data size at a given seed, serial-ish at high core counts). Fused: one
    union of (p-occurrences | sampled s/o-occurrences) tagged by kind, one
    groupBy, and the two driver-side limits read the SAME aggregation (AQE
    reuses the exchange between the branches), collected in one action.

    Returns ``(stats, hot)``: ``{predicate: count}`` (None when
    ``cfg.use_stats`` is off or the vocabulary exceeds
    STATS_MAX_PREDICATES) and the driver-side literals of the hot term
    values — those holding at least ``cfg.hot_value_min_share`` of the s/o
    occurrences, which feed ``matcher.bindings``'s targeted salting for
    iterations whose delta is too large to broadcast. ``hot_only`` skips
    the stats branch: the fixpoint re-detects hot keys that way at every
    store compaction (keys that turn hot between rescans are AQE
    skew-join's job). Detection samples down to ~HOT_SCAN_SAMPLE_ROWS
    occurrences, so a rescan never shuffles the full store."""
    from .matcher import term_lit

    want_stats = cfg.use_stats and not hot_only
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
        frac = min(1.0, HOT_SCAN_SAMPLE_ROWS / occ_rows)
        if frac < 1.0:
            occ = occ.sample(fraction=frac, seed=7)
        branches.append(occ.select(F.lit(True).alias("so"), "k"))
    cnt = _union_all(branches).groupBy("so", "k").count()
    parts = []
    if want_stats:
        parts.append(cnt.filter(~F.col("so")).limit(STATS_MAX_PREDICATES + 1))
    if want_hot:
        parts.append(
            cnt.filter(F.col("so")).orderBy(F.desc("count")).limit(HOT_VALUE_TOP)
        )
    rows = _union_all(parts).collect()
    stats = None
    if want_stats:
        prows = [r for r in rows if not r["so"]]
        if len(prows) <= STATS_MAX_PREDICATES:
            stats = {r["k"]: r["count"] for r in prows}
    hot = []
    if want_hot:
        total = max(int(occ_rows * frac), 1)
        hrows = sorted((r for r in rows if r["so"]), key=lambda r: -r["count"])
        hot = [
            (term_lit(r["k"], dtype),)
            for r in hrows[:HOT_VALUE_TOP]
            if r["count"] / total >= cfg.hot_value_min_share
        ]
    return stats, hot


def job_fingerprint(lrules: list, lineage: bool) -> str:
    """Deterministic identity of a fixpoint job: the lowered rule set (body/
    head slot structure and constant values) and whether lineage is
    maintained. Stamped into checkpoint meta.json so a resume against a
    different job's directory is refused. The ``dtype=string`` prefix is
    the engine's one value type, kept so that checkpoints written while a
    second (hash-id) type existed keep their identity."""
    h = hashlib.sha256()
    h.update(f"dtype=string;lineage={lineage};".encode())
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


def unconditional_heads_df(spark: SparkSession, lrules: list) -> Optional[DataFrame]:
    """:func:`unconditional_heads` as an SPOG quad DataFrame, or None when
    no rule is unconditional. These quads hold in every store (they are
    never deletable, and every seed includes them)."""
    heads = unconditional_heads(lrules)
    if not heads:
        return None
    return spark.createDataFrame([h[:4] for h in heads], QUAD_SCHEMA)


def fixpoint(
    spark: SparkSession,
    facts0: DataFrame,
    lrules: list,
    cfg: Optional[InferConfig] = None,
    lineage: bool = False,
    goals: Optional[DataFrame] = None,
    initial_arguments: Optional[DataFrame] = None,
    reuse_store: Optional[FactStore] = None,
    track_deltas: bool = False,
) -> FixpointResult:
    """Run rules to fixpoint over an already-deduplicated quad DataFrame.

    ``facts0`` must be deduplicated and already include unconditional-rule
    heads (see :func:`seed_facts`). With ``lineage=True`` a first-wins
    arguments table is maintained; with ``goals`` the loop exits early once
    every goal quad is present (src/prove.rs:124). The whole of ``facts0``
    is the first worklist.

    ``reuse_store``: an already-seeded live :class:`FactStore` (streaming
    IVM keeps one across micro-batches so per-batch cost reads cached
    blocks, never the full persisted store). When given, ``facts0`` is
    ignored apart from its schema, and the first worklist is the store's
    newest block (its ``last_src`` checkpoint — the novel quads the caller
    just appended; the blocks before it are already a fixpoint). New
    derivations are appended to the store in place.

    A program that :func:`rify_spark.tc.detect_tc` recognizes as a pure
    transitive closure runs on smart TC instead when there is no lineage,
    no goals and no ``reuse_store``; every other call runs the user's own
    rules on the loop below.
    """
    cfg = cfg or InferConfig()
    if not lineage and goals is None and reuse_store is None:
        # the pure transitive-closure program runs on smart TC (tc.py):
        # O(log depth) rounds and O(|closure|) join output. Lineage keeps the
        # generic loop (proof steps replay the user's rules), goal mode keeps
        # its early-exit check, and a live store its per-batch worklist.
        rec = detect_tc(lrules)
        if rec is not None:
            return smart_tc_fixpoint(
                spark, facts0, rec, cfg, track_deltas=track_deltas
            )
    dtype = facts0.schema["s"].dataType
    cond_rules: list = [r for r in lrules if not r.unconditional]
    ckpt = (
        CheckpointManager(
            spark,
            cfg.checkpoint_dir,
            fingerprint=job_fingerprint(lrules, lineage),
            every=cfg.store_compact_every,
            retain_history=cfg.checkpoint_retain_history,
        )
        if cfg.checkpoint_dir
        else None
    )

    metrics: list = []
    arguments: Optional[DataFrame] = None
    it = 0
    store = reuse_store or FactStore(spark, compact_every=cfg.store_compact_every)
    try:
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
            delta_rows = meta["delta_rows"] if "delta_rows" in meta else delta.count()
            # F_old for the next round (non-redundant decomposition)
            facts_old = seed_lc.join(delta, SPOG, "left_anti").localCheckpoint(
                eager=True
            )
            metrics.append({"iteration": it, "resumed": True, "delta_rows": delta_rows})
        elif reuse_store is not None:
            seed_lc = store.union()
            facts_rows = store.total_rows
            delta = store.last_src
            delta_rows = store.block_rows[-1]
            # the delta is the store's newest block, so the semi-naive F_old is
            # exactly the cached block prefix — no O(store) anti-join/checkpoint
            # per micro-batch
            facts_old = store.union_except_last()
        else:
            seed_lc, facts_rows = store.seed(facts0)
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
        # maintained for free by each iteration's FactStore.append. When the
        # first delta IS the seed, the join-order stats already hold its
        # predicate set — reuse instead of paying another scan.
        if not cond_rules:
            delta_preds = None
        elif delta is seed_lc and stats is not None:
            delta_preds = set(stats)
        else:
            delta_preds = FactStore._count_and_preds(delta)[1]

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

                if lineage:
                    # the one s-exchange of FactStore.novel, with the first-wins
                    # window in place of the dedup
                    cand = _union_all(plans).repartition(store.partitions, "s")
                    w = Window.partitionBy(*SPOG).orderBy("rule_index", "inst")
                    picked = (
                        store.anti(cand)
                        .withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") == 1)
                        .drop("__rn")
                        .withColumn("iteration", F.lit(it).cast("long"))
                    )
                    new_full = picked.localCheckpoint(eager=False)
                    new = new_full.select(*SPOG)
                else:
                    new_full = None
                    new = store.novel(_union_all(plans))
                # ONE Spark job for the whole candidate->anti->checkpoint->block
                # pipeline, which also yields the next prune set
                delta_rows, delta_preds = store.append(new, with_preds=True)
                if delta_rows == 0:
                    metrics.append(
                        {"iteration": it, "delta_rows": 0, "wall_s": round(time.time() - t0, 4)}
                    )
                    break

                if lineage:
                    arg_blocks.append(new_full)
                    arguments = _union_all(arg_blocks)
                if track_deltas:
                    tracked_deltas.append(new)
                facts_old = store.union_except_last()
                facts_rows += delta_rows
                delta = new
                if store.just_compacted:
                    # emergent hot keys: re-detect on the compacted store (sampled —
                    # O(HOT_SCAN_SAMPLE_ROWS), amortized 1/store_compact_every)
                    hot_lits = _seed_scan(store.union(), facts_rows, cfg, hot_only=True)[1]
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
                    wrote_base = ckpt.save_iteration(
                        it,
                        delta,
                        store.union(),
                        arguments=arguments,
                        arguments_delta=new_full,
                        extra_meta={"facts_rows": facts_rows, "delta_rows": delta_rows},
                    )
                    if lineage and wrote_base:
                        # re-point the lineage union at the base parquet just
                        # written: bounds the union plan width to base + tail
                        # blocks AND drops any dependency a RESUMED run carried
                        # on older checkpoint files (the save just pruned them) —
                        # without this, the next base write or a post-run
                        # res.arguments consumer would re-read pruned parquet
                        arguments = spark.read.parquet(ckpt.arguments_path(it))
                        arg_blocks[:] = [arguments]

        return FixpointResult(
            facts=store.union(),
            arguments=arguments,
            metrics=metrics,
            iterations=it,
            facts_rows=facts_rows,
            delta_dfs=tracked_deltas,
            resumed=resumed is not None,
            store=None if reuse_store is not None else store,
        )
    except BaseException:
        # a store this call created must not outlive a failed round with its
        # blocks still persisted; a caller's live store stays the caller's
        if reuse_store is None:
            store.release()
        raise


def seed_facts(
    spark: SparkSession,
    premises: DataFrame,
    lrules: list,
    *,
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
    hdf = unconditional_heads_df(spark, lrules)
    if hdf is not None:
        facts = facts.unionByName(hdf).dropDuplicates(SPOG)
    return facts


def derived_facts(
    spark: SparkSession,
    res: FixpointResult,
    premises_dedup: DataFrame,
    lrules: list,
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
    hdf = unconditional_heads_df(spark, lrules)
    if hdf is not None:
        # heads ∖ premises with the SMALL side as the broadcast build:
        # stream the premises once for the tiny intersection, subtract
        # driver-side (an anti-join would hash-build the large premises)
        present = {
            tuple(r)
            for r in premises_dedup.join(
                F.broadcast(hdf), SPOG, "left_semi"
            ).collect()
        }
        missing = [h[:4] for h in unconditional_heads(lrules) if h[:4] not in present]
        if missing:
            parts.append(spark.createDataFrame(missing, hdf.schema))
    if not parts:
        return res.facts.limit(0)
    return _union_all(parts)
