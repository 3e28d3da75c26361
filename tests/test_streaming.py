"""Incremental streaming inference tests: arriving quad files maintain the
closed fact store via foreachBatch + semi-naive delta fixpoints."""

import os

import pytest
from pyspark import StorageLevel

from rify_spark.rules import Bound as B, Rule, Unbound as U
from rify_spark.streaming import IncrementalReasoner

DG = "dg"
SCHEMA = "s string, p string, o string, g string"


def _rules():
    return [
        Rule.create(
            [[U("a"), B("parent"), U("b"), B(DG)]],
            [[U("a"), B("anc"), U("b"), B(DG)]],
        ),
        Rule.create(
            [
                [U("a"), B("anc"), U("b"), B(DG)],
                [U("b"), B("anc"), U("c"), B(DG)],
            ],
            [[U("a"), B("anc"), U("c"), B(DG)]],
        ),
    ]


def _write_batch(spark, src, rows, name):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _store_set(reasoner):
    return {tuple(r) for r in reasoner.facts().collect()}


def _closure(premises):
    """Closed form of ``_rules()``: the premises plus every ``anc`` pair
    along their ``parent`` links."""
    up = {(s, o) for s, p, o, g in premises if p == "parent"}
    pairs = set(up)
    while True:
        more = {(a, c) for a, b in pairs for b2, c in up if b == b2} - pairs
        if not more:
            break
        pairs |= more
    return set(premises) | {(a, "anc", b, DG) for a, b in pairs}


def test_incremental_stream_maintains_closure(spark, tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    r = IncrementalReasoner(spark, _rules(), store)

    # batch 1: a chain fragment
    _write_batch(spark, src, [("a", "parent", "b", DG)], "b1")
    q = r.start_file_stream(src, ckpt, available_now=True)
    q.awaitTermination(120)
    s1 = _store_set(r)
    assert ("a", "anc", "b", DG) in s1
    assert len(s1) == 2  # premise + derived

    # batch 2: extend the chain; closure must connect across batches
    _write_batch(spark, src, [("b", "parent", "c", DG)], "b2")
    q = r.start_file_stream(src, ckpt, available_now=True)
    q.awaitTermination(120)
    s2 = _store_set(r)
    assert ("b", "anc", "c", DG) in s2
    assert ("a", "anc", "c", DG) in s2  # needs old facts ⋈ new delta
    assert len(s2) == 5

    # batch 3: duplicate + already-derivable arrivals change nothing
    _write_batch(
        spark, src, [("a", "parent", "b", DG), ("a", "anc", "c", DG)], "b3"
    )
    q = r.start_file_stream(src, ckpt, available_now=True)
    q.awaitTermination(120)
    assert _store_set(r) == s2


def test_incremental_matches_batch_engine(spark, tmp_path):
    """Stream in two halves == one-shot batch inference on the union."""
    from rify_spark.api import infer

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    nodes = [f"n{i}" for i in range(6)]
    edges = [
        (a, "parent", b, DG) for a, b in zip(nodes, nodes[1:])
    ]
    r = IncrementalReasoner(spark, _rules(), store)
    _write_batch(spark, src, edges[:2], "b1")
    r.start_file_stream(src, ckpt, available_now=True).awaitTermination(120)
    _write_batch(spark, src, edges[2:], "b2")
    r.start_file_stream(src, ckpt, available_now=True).awaitTermination(120)

    batch_out = set(infer(spark, edges, _rules()))
    streamed = _store_set(r) - set(edges)
    assert streamed == batch_out


def test_restart_recovers_from_bucketed_store(spark, tmp_path):
    """A NEW reasoner over the same durable store must continue exactly
    where the old one stopped (cold-start recovery path), and the durable
    store must be laid out in s-hash bucket partitions."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    ckpt2 = str(tmp_path / "ckpt2")
    os.makedirs(src, exist_ok=True)

    r1 = IncrementalReasoner(spark, _rules(), store)
    _write_batch(spark, src, [("a", "parent", "b", DG)], "b1")
    r1.start_file_stream(src, ckpt, available_now=True).awaitTermination(120)
    assert any(e.startswith("bucket=") for e in os.listdir(store))

    # simulated restart: fresh reasoner (empty live store), fresh source
    src2 = str(tmp_path / "src2")
    os.makedirs(src2, exist_ok=True)
    r2 = IncrementalReasoner(spark, _rules(), store)
    _write_batch(spark, src2, [("b", "parent", "c", DG)], "b2")
    r2.start_file_stream(src2, ckpt2, available_now=True).awaitTermination(120)
    s = _store_set(r2)
    assert ("a", "anc", "c", DG) in s  # joins recovered facts with new delta
    assert len(s) == 5


def test_store_compaction_bounds_files(spark, tmp_path):
    """With compact_files_every=1 every batch triggers compaction: the
    store ends with at most one data file per bucket, content unchanged."""
    import glob

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    r = IncrementalReasoner(
        spark, _rules(), store, n_buckets=4, compact_files_every=1
    )
    for i, edge in enumerate(
        [("a", "parent", "b", DG), ("b", "parent", "c", DG), ("c", "parent", "d", DG)]
    ):
        _write_batch(spark, src, [edge], f"b{i}")
        r.start_file_stream(src, ckpt, available_now=True).awaitTermination(120)
    s = _store_set(r)
    assert ("a", "anc", "d", DG) in s
    assert len(s) == 9  # 3 premises + 6 closure edges
    for bdir in glob.glob(os.path.join(store, "bucket=*")):
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) <= 1, f"{bdir} not compacted: {files}"


def test_compaction_cadence_survives_restarts(spark, tmp_path):
    """A store reopened after every batch still compacts: each reasoner
    resumes the batch count from the files already in the buckets, so with
    compact_files_every=2 three one-batch reasoners leave one file per
    bucket (a count restarted at 0 never reaches 2 and leaves three files
    in the bucket of ``a``, whose ``anc`` row every batch extends)."""
    import glob

    store = str(tmp_path / "store")
    edges = [(x, "parent", y, DG) for x, y in ("ab", "bc", "cd")]
    for i, edge in enumerate(edges):
        r = IncrementalReasoner(spark, _rules(), store, compact_files_every=2)
        r.process_batch(spark.createDataFrame([edge], SCHEMA), i)
    for base in (r.store_dir, r.premises_dir):
        for bdir in glob.glob(os.path.join(base, "bucket=*")):
            files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
            assert len(files) == 1, f"{bdir} not compacted: {files}"
    assert _store_set(r) == _closure(edges)


def test_duplicate_batches_count_toward_compaction(spark, tmp_path):
    """A batch whose quads are all in the store still appends its premises,
    so it counts toward ``compact_files_every``: with a cadence of 2, one
    batch and three repeats of it leave one file per bucket (skipping the
    count on repeats leaves four premise files in a bucket)."""
    edges = [("a", "parent", "b", DG), ("b", "parent", "c", DG)]
    r = IncrementalReasoner(
        spark, _rules(), str(tmp_path / "store"), compact_files_every=2
    )
    for i in range(4):
        r.process_batch(spark.createDataFrame(edges, SCHEMA), i)
    assert r._most_files_per_bucket() == 1
    assert _store_set(r) == _closure(edges)


def test_failed_batch_rolls_back_live_store(spark, tmp_path):
    """A batch that fails after mutating the live store must not poison a
    replay: the rollback drops the live store, so the retried batch re-seeds
    from the durable parquet (the committed prefix) and its closure is
    computed and persisted as if the failure never happened."""
    src_rows = [("a", "parent", "b", DG), ("b", "parent", "c", DG)]
    store = str(tmp_path / "store")
    r = IncrementalReasoner(spark, _rules(), store)

    # commit batch 1 normally
    r.process_batch(spark.createDataFrame([src_rows[0]], SCHEMA), 0)
    committed = _store_set(r)
    assert ("a", "anc", "b", DG) in committed

    # batch 2 fails at the durable STORE append (after the live store was
    # mutated — the premise append, target=premises_dir, precedes any
    # mutation and is allowed through)
    orig_append = r._append_parquet
    calls = {"n": 0}

    def failing_append(df, target=None):
        if target is None:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected append failure")
        orig_append(df, target)

    r._append_parquet = failing_append
    batch2 = spark.createDataFrame([src_rows[1]], SCHEMA)
    live = r._store
    held = list(live.blocks)
    real_release = live.release

    def release():
        held.extend(live.blocks)
        real_release()

    live.release = release
    with pytest.raises(RuntimeError, match="injected"):
        r.process_batch(batch2, 1)
    assert r._store is None  # rolled back
    # ...and every block the dropped store held reads unpersisted
    assert len(held) > 1 and live.blocks == []
    assert all(b.storageLevel == StorageLevel.NONE for b in held)
    assert _store_set(r) == committed  # durable store untouched

    # replay of the SAME batch on the SAME reasoner must fully process it
    r.process_batch(batch2, 1)
    s = _store_set(r)
    assert ("a", "anc", "c", DG) in s  # cross-batch closure computed
    assert len(s) == 5


def test_failed_first_batch_rolls_back_unseeded_store(spark, tmp_path):
    """The first batch of a fresh reasoner fails at the durable store
    append while no block was seeded before it: the rollback must drop the
    store it seeded mid-batch, and the replay must produce the closed
    form."""
    rows = [("a", "parent", "b", DG), ("b", "parent", "c", DG)]
    r = IncrementalReasoner(spark, _rules(), str(tmp_path / "store"))
    orig_append = r._append_parquet

    def failing_append(df, target=None):
        if target is None:
            raise RuntimeError("injected append failure")
        orig_append(df, target)

    r._append_parquet = failing_append
    batch = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(RuntimeError, match="injected"):
        r.process_batch(batch, 0)
    assert r._store is None
    assert r.facts().count() == 0

    r._append_parquet = orig_append
    r.process_batch(batch, 0)
    assert _store_set(r) == _closure(rows)


def test_compaction_crash_window_recovered(spark, tmp_path):
    """Crash between compact_store's two renames leaves the data in
    '.__old__' and no store directory; a new reasoner must heal it instead
    of silently starting empty."""
    store = str(tmp_path / "store")
    r = IncrementalReasoner(spark, _rules(), store)
    r.process_batch(
        spark.createDataFrame([("a", "parent", "b", DG)], SCHEMA), 0
    )
    committed = _store_set(r)
    assert committed

    # simulate the mid-swap crash state
    os.rename(store, store + ".__old__")
    os.makedirs(store + ".__compact__")  # stale write-aside too

    r2 = IncrementalReasoner(spark, _rules(), store)
    assert _store_set(r2) == committed
    assert not os.path.exists(store + ".__old__")
    assert not os.path.exists(store + ".__compact__")


def test_cold_start_reseeds_width_from_first_batch(spark, tmp_path):
    """The live store seeded from an empty durable store must re-pick its
    block width from the first real batch instead of staying at width 1
    until the first prefix compaction."""
    import sys

    inf = sys.modules["rify_spark.infer"]
    orig = inf.FactStore.__init__

    def patched(self, spark_, fixed_partitions=None, compact_every=8,
                rows_per_partition=200_000):
        orig(self, spark_, fixed_partitions=fixed_partitions,
             compact_every=compact_every, rows_per_partition=2)

    inf.FactStore.__init__ = patched
    try:
        r = IncrementalReasoner(spark, _rules(), str(tmp_path / "store"))
        rows = [(f"n{i}", "parent", f"n{i + 1}", DG) for i in range(0, 40, 2)]
        r.process_batch(spark.createDataFrame(rows, SCHEMA), 0)
        assert r._store is not None and r._store.partitions > 1
        s = _store_set(r)
        assert ("n0", "anc", "n1", DG) in s
        assert ("n0", "anc", "n2", DG) not in s  # pairs are disconnected
    finally:
        inf.FactStore.__init__ = orig


def _layout(store):
    import json

    with open(store + ".__layout__.json") as f:
        return json.load(f)["n_buckets"]


def _legacy_store(spark, tmp_path, rows):
    """A store written at 64 buckets, the default before the layout
    record existed."""
    store = str(tmp_path / "store")
    r = IncrementalReasoner(spark, _rules(), store, n_buckets=64)
    r.process_batch(spark.createDataFrame(rows, SCHEMA), 0)
    return store


def test_layout_record_keeps_bucket_count_on_reopen(spark, tmp_path):
    """Reopened with the default count, a 64-bucket store stays at 64, and
    a DRed retraction's bucket rewrites land in the buckets the rows were
    written to."""
    from pyspark.sql import functions as F

    chain = [(x, "parent", y, DG) for x, y in zip("abcdef", "bcdefg")]
    store = _legacy_store(spark, tmp_path, chain)
    r = IncrementalReasoner(spark, _rules(), store)
    assert r.n_buckets == 64 and _layout(store) == 64
    cut = ("c", "parent", "d", DG)
    r.retract_batch(spark.createDataFrame([cut], SCHEMA))
    assert _store_set(r) == _closure([q for q in chain if q != cut])
    for d in (store, r.premises_dir):
        misplaced = (
            spark.read.parquet(d)
            .filter(F.col("bucket") != F.pmod(F.xxhash64("s"), F.lit(64)))
            .count()
        )
        assert misplaced == 0, d


def test_layout_record_rejects_other_bucket_count(spark, tmp_path):
    store = _legacy_store(spark, tmp_path, [("a", "parent", "b", DG)])
    with pytest.raises(ValueError, match="64 buckets"):
        IncrementalReasoner(spark, _rules(), store, n_buckets=16)


def test_store_without_layout_record_opens_at_legacy_count(spark, tmp_path):
    store = _legacy_store(spark, tmp_path, [("a", "parent", "b", DG)])
    os.remove(store + ".__layout__.json")
    r = IncrementalReasoner(spark, _rules(), store)
    assert r.n_buckets == 64 and _layout(store) == 64


def test_new_store_records_default_bucket_count(spark, tmp_path):
    store = str(tmp_path / "store")
    r = IncrementalReasoner(spark, _rules(), store)
    assert r.n_buckets == 16 and _layout(store) == 16


def test_batch_append_fan_out_and_read_listing(spark, tmp_path):
    """One batch over 500 subjects writes at most one file per bucket in
    the store and in the premise directory, and ``facts()`` lists the
    bucket directories on the driver: building it starts no Spark job."""
    import glob
    import time

    r = IncrementalReasoner(spark, _rules(), str(tmp_path / "store"))
    rows = [(f"n{i}", "parent", f"m{i}", DG) for i in range(500)]
    r.process_batch(spark.createDataFrame(rows, SCHEMA), 0)
    for d in (r.store_dir, r.premises_dir):
        files = glob.glob(os.path.join(d, "bucket=*", "*.parquet"))
        assert 0 < len(files) <= 16, (d, len(files))

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    r.facts()
    time.sleep(1)  # job events reach the status store asynchronously
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_first_batch_seeds_live_store_once(spark, tmp_path, monkeypatch):
    from rify_spark.infer import FactStore

    calls = []
    orig = FactStore.seed

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(FactStore, "seed", spy)
    r = IncrementalReasoner(spark, _rules(), str(tmp_path / "store"))
    rows = [("a", "parent", "b", DG), ("b", "parent", "c", DG)]
    r.process_batch(spark.createDataFrame(rows, SCHEMA), 0)
    assert len(calls) == 1
    assert _store_set(r) == _closure(rows)


def test_linear_tc_batches_match_naive_closure(spark, tmp_path):
    """The linear TC program on the live store runs the user's rules as
    written: premise ``reach`` facts are only ``next``-prefixed, never
    composed with each other, so batch 1's ``next(w,x)`` derives
    ``reach(w,x)`` and ``reach(w,y)`` but not ``reach(w,z)``."""
    from rify_spark.reference import naive_closure

    rules = [
        Rule.create(
            [[U("a"), B("next"), U("b"), U("g")]],
            [[U("a"), B("reach"), U("b"), U("g")]],
        ),
        Rule.create(
            [[U("a"), B("next"), U("b"), U("g")],
             [U("b"), B("reach"), U("c"), U("g")]],
            [[U("a"), B("reach"), U("c"), U("g")]],
        ),
    ]
    batches = [
        [("x", "reach", "y", "g0"), ("y", "reach", "z", "g0")],
        [("w", "next", "x", "g0")],
    ]
    r = IncrementalReasoner(spark, rules, str(tmp_path / "store"))
    for i, rows in enumerate(batches):
        r.process_batch(spark.createDataFrame(rows, SCHEMA), i)
    assert _store_set(r) == naive_closure(batches[0] + batches[1], rules)


def _write_nq_file(src, name, lines):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_nquads_stream_maintains_closure(spark, tmp_path):
    """Tailing an N-Quads text feed keeps the closure current: the line
    grammar (escapes, comments) feeds the same incremental path as the
    parquet source, and cross-batch joins still fire."""
    src = str(tmp_path / "nq")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    r = IncrementalReasoner(spark, _rules(), store)
    _write_nq_file(src, "b1.nq", [
        "# feed header comment",
        f"<a> <parent> <b> <{DG}> .",
    ])
    q = r.start_nquads_stream(src, ckpt)
    q.awaitTermination(120)
    assert ("a", "anc", "b", DG) in _store_set(r)

    _write_nq_file(src, "b2.nq", [f"<b> <parent> <c> <{DG}> ."])
    q = r.start_nquads_stream(src, ckpt)
    q.awaitTermination(120)
    s = _store_set(r)
    assert ("a", "anc", "c", DG) in s  # old facts ⋈ new delta
    assert len(s) == 5


def test_nquads_stream_malformed_policies(spark, tmp_path):
    src = str(tmp_path / "nq")
    ckpt1 = str(tmp_path / "ckpt1")
    _write_nq_file(src, "b1.nq", [
        f"<a> <parent> <b> <{DG}> .",
        "this line is garbage",
    ])

    # error policy: the batch fails and the store stays empty (rollback)
    r1 = IncrementalReasoner(spark, _rules(), str(tmp_path / "s1"))
    q = r1.start_nquads_stream(src, ckpt1, on_malformed="error")
    with pytest.raises(Exception, match="malformed"):
        q.awaitTermination(120)
    assert r1.facts().count() == 0

    # skip policy: good line applies, bad line counted
    r2 = IncrementalReasoner(spark, _rules(), str(tmp_path / "s2"))
    q = r2.start_nquads_stream(
        src, str(tmp_path / "ckpt2"), on_malformed="skip"
    )
    q.awaitTermination(120)
    assert ("a", "anc", "b", DG) in _store_set(r2)
    assert sum(r2.nquads_malformed.values()) == 1

    with pytest.raises(ValueError, match="on_malformed"):
        r2.start_nquads_stream(src, ckpt1, on_malformed="quarantine")


def test_sparql_continuous_query_over_live_store(spark, tmp_path):
    """Composition: a SPARQL aggregate re-evaluated between micro-batches
    runs directly over the incremental reasoner's maintained closure —
    the continuous-query surface a KG endpoint exposes."""
    from rify_spark.sparql import sparql_select

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    r = IncrementalReasoner(spark, _rules(), store)
    q = (
        "SELECT ?x (COUNT(?y) AS ?n) WHERE { GRAPH <dg> { ?x <anc> ?y } } "
        "GROUP BY ?x ORDER BY ?x"
    )

    _write_batch(spark, src, [("a", "parent", "b", DG)], "b1")
    r.start_file_stream(src, ckpt, available_now=True).awaitTermination(120)
    got1 = [tuple(x) for x in sparql_select(r.facts(), q).collect()]
    assert got1 == [("a", 1)]

    _write_batch(spark, src, [("b", "parent", "c", DG)], "b2")
    r.start_file_stream(src, ckpt, available_now=True).awaitTermination(120)
    got2 = [tuple(x) for x in sparql_select(r.facts(), q).collect()]
    # the cross-batch derivation a->c is visible to the query
    assert got2 == [("a", 2), ("b", 1)]
