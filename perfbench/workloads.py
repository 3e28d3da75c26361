"""The two workloads. Each runs two phases of public ``rify_spark`` calls;
every call is timed through its output write, and its output is checked
after the timer stops.

``closure_neardup``  deep_closure (``api.infer_df``, the two ancestry rules,
                smart TC) then near_dup (``ops.dedup.neardup_clusters``).
``kg_live`` kg_build (``pipeline.run_pipeline``, generic fixpoint)
                then live_updates (``streaming.incremental.IncrementalReasoner``
                inserts and SPARQL reads; the traced run adds a DRed
                retraction).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracles

# sizes per scale; "toy" is the smoke test's
SIZES = {
    "full": {
        "tree_nodes": 30_000,
        "docs": 5_000,
        "copy_every": 5,
        "kg_repos": 30,
        "kg_modules": 8,
        "live_nodes": 40_000,
        "live_batch": 1_000,
    },
    "toy": {
        "tree_nodes": 500,
        "docs": 200,
        "copy_every": 5,
        "kg_repos": 3,
        "kg_modules": 4,
        "live_nodes": 400,
        "live_batch": 100,
    },
}
CLOSURE_SAMPLE = 20
SHORTCUT_RATE = 1 / 9
RETRACT_RATE = 1 / 5
QUERY_ROOT = 1
SPARQL_QUERY = f"SELECT ?x WHERE {{ GRAPH ?g {{ ?x <ancestor> <{inputs.node(QUERY_ROOT)}> }} }}"


def ancestry_rules():
    """The two ancestry rules of ``ops.quads.ancestry_closure`` (the
    reference's own benchmark shape)."""
    from rify_spark.rules import Bound as B, Rule, Unbound as U

    return [
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


class Run:
    """State shared by a workload's phases: the session, the tracer, the
    work directory, and what was measured."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, scale: str, skew: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[scale]
        self.skew = skew
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layers: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, name: str, fn):
        """Run ``fn`` inside a span; returns (result, wall seconds, span).
        An exception counts as a failed op and yields result None."""
        self.attempted += 1
        with self.tracer.span(name) as sp:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # noqa: BLE001 — counted, reported, run goes on
                traceback.print_exc(file=sys.stderr)
                out = None
            wall = time.perf_counter() - t0
        print(f"perfbench: {name} {wall:.3f} s", file=sys.stderr)
        if out is None:
            self.failed += 1
        return out, wall, sp

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"perfbench: output check failed: {what}", file=sys.stderr)

    def budget_left(self, t_phase: float) -> bool:
        """Each of a workload's two phases measures for half of --seconds."""
        return time.perf_counter() - t_phase < self.seconds / 2

    def phase(self, name: str, call, check) -> list:
        """Repeat ``call(out_path)`` until the phase budget is spent (at
        least once); ``check(out_path, result)`` runs after each call's
        timer stops. Returns (wall, span, result) of every call that
        returned."""
        done = []
        t_phase = time.perf_counter()
        i = 0
        while i == 0 or self.budget_left(t_phase):
            out = self.path(f"{name}_{i}.parquet")
            res, wall, sp = self.timed(name, lambda: call(out))
            if res is not None:
                self.check(check(out, res), name)
                done.append((wall, sp, res))
            shutil.rmtree(out, ignore_errors=True)
            i += 1
        return done


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _span_median(spans: list, key) -> float:
    """Median over spans of one stat, or of a sum of stats."""
    keys = key if isinstance(key, tuple) else (key,)
    return _median([sum(sp[k] for k in keys) for sp in spans])


SHUFFLE = ("shuffle_read_bytes", "shuffle_write_bytes")


def _rate(items: int, walls: list) -> float:
    """items per second of the median call; 0 when no call returned."""
    wall = _median(walls)
    return items / wall if wall else 0.0


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _noop(df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


# --- closure_neardup --------------------------------------------------------------


def closure_neardup(run: Run) -> None:
    from rify_spark.api import infer_df
    from rify_spark.ops.dedup import neardup_clusters

    spark, size = run.spark, run.size
    parent = inputs.tree_parents(size["tree_nodes"], run.seed)
    depth = inputs.tree_depths(parent)
    edges_path = run.path("tree_edges.parquet")
    pq.write_table(inputs.edge_table(np.arange(1, len(parent)), parent), edges_path)
    rng = np.random.default_rng([run.seed, 3])
    sample = sorted(rng.choice(np.arange(1, len(parent)), CLOSURE_SAMPLE, replace=False).tolist())
    docs, planted = inputs.documents(size["docs"], size["copy_every"], run.seed)
    docs_path = run.path("documents.parquet")
    pq.write_table(docs, docs_path)
    clusters_want = oracles.neardup_clusters(docs_path)
    rules = ancestry_rules()

    def closure(out):
        derived, res = infer_df(spark, spark.read.parquet(edges_path), rules)
        _write(derived, out)
        return res

    closures = run.phase(
        "deep_closure",
        closure,
        lambda out, _res: oracles.check_closure(out, parent, depth, sample, run.skew),
    )
    run.e2e["phase1_items_per_s"] = _rate(int(depth.sum()), [w for w, _, _ in closures])

    clusters = run.phase(
        "near_dup",
        lambda out: _write(neardup_clusters(spark.read.parquet(docs_path)), out) or True,
        lambda out, _res: oracles.check_rows(
            out, clusters_want, ["doc_id", "canon_id", "cluster_size"], run.skew
        ),
    )
    run.e2e["phase2_items_per_s"] = _rate(docs.num_rows, [w for w, _, _ in clusters])

    if run.tracer.enabled:
        _tc_layers(run, closures)
        _dictionary_layers(run, edges_path)
        _dedup_layers(run, docs_path, planted, clusters)


def _tc_layers(run: Run, closures: list) -> None:
    """Smart-TC rounds from each call's FixpointResult; jobs, shuffle, CPU
    and GC from the span of each infer_df call that delegated to smart TC
    (it also covers encode, decode and the write)."""
    tc_rounds = [[m for m in res.metrics if m.get("strategy") == "smart_tc"] for _, _, res in closures]
    smart = [sp for (_, sp, _), rs in zip(closures, tc_rounds) if rs]
    run.layers.update(
        {
            "tc.rounds": _median([len(rs) for rs in tc_rounds]),
            "tc.round_s_max": _median([max((m["wall_s"] for m in rs), default=0.0) for rs in tc_rounds]),
            "tc.jobs": _span_median(smart, "jobs"),
            "tc.shuffle_write_bytes": _span_median(smart, "shuffle_write_bytes"),
            "tc.shuffle_read_bytes": _span_median(smart, "shuffle_read_bytes"),
            "tc.cpu_util": _span_median(smart, "cpu_util"),
            "tc.gc_s": _span_median(smart, "gc_s"),
        }
    )


def _dictionary_layers(run: Run, edges_path: str) -> None:
    from rify_spark import dictionary as D

    spark = run.spark
    edges = spark.read.parquet(edges_path)
    d = D.build_dict(spark, edges).cache()
    terms, _, _ = run.timed("dictionary.build_dict", d.count)
    _, enc_s, _ = run.timed("dictionary.encode_quads", lambda: _noop(D.encode_quads(edges)))
    _, dec_s, _ = run.timed(
        "dictionary.decode_quads", lambda: _noop(D.decode_quads(D.encode_quads(edges), d))
    )
    d.unpersist()
    run.layers.update(
        {"dictionary.encode_s": enc_s, "dictionary.decode_s": dec_s, "dictionary.terms": terms or 0}
    )


def _dedup_layers(run: Run, docs_path: str, planted: list, clusters: list) -> None:
    from rify_spark.ops.dedup import lsh_candidate_pairs, minhash_signatures

    docs = run.spark.read.parquet(docs_path)
    _, mh_s, _ = run.timed("dedup.minhash_signatures", lambda: _noop(minhash_signatures(docs)))
    pairs, lsh_s, _ = run.timed(
        "dedup.lsh_candidate_pairs",
        lambda: {(r[0], r[1]) for r in lsh_candidate_pairs(docs).collect()},
    )
    pairs = pairs or set()
    spans = [sp for _, sp, _ in clusters]
    run.layers.update(
        {
            "dedup.minhash_s": mh_s,
            "dedup.lsh_pairs_s": lsh_s,
            "dedup.clusters_s": _median([w for w, _, _ in clusters]),
            "dedup.clusters_jobs": _span_median(spans, "jobs"),
            "dedup.clusters_shuffle_bytes": _span_median(spans, SHUFFLE),
            "dedup.candidate_pairs": len(pairs),
            "dedup.pair_precision": len(pairs & set(planted)) / len(pairs) if pairs else 0.0,
        }
    )


# --- kg_live -------------------------------------------------------------


def kg_live(run: Run) -> None:
    from rify_spark.extract import code_files_df_distributed
    from rify_spark.pipeline import run_pipeline

    spark, size = run.spark, run.size
    R, M = size["kg_repos"], size["kg_modules"]
    corpus_path = run.path("code_files.parquet")
    code_files_df_distributed(spark, R, M, seed=run.seed).write.mode("overwrite").parquet(corpus_path)
    kg_want = oracles.kg_derived(R, M)

    def kg(out):
        # the traced run forces eager stage boundaries, so each stage wall
        # holds exactly its stage's jobs
        res = run_pipeline(spark, spark.read.parquet(corpus_path), time_stages=run.tracer.enabled or None)
        _write(res.derived, out)
        return res

    kgs = run.phase(
        "kg_build", kg, lambda out, _res: oracles.check_rows(out, kg_want, ["s", "p", "o", "g"], run.skew)
    )
    run.e2e["phase1_items_per_s"] = _rate(R * M, [w for w, _, _ in kgs])

    live = LiveUpdates(run)
    live.loop()
    # closed loop, one client: ops completed per second of op time
    run.e2e["phase2_items_per_s"] = len(live.phase_ops) / sum(o["wall"] for o in live.phase_ops)

    if run.tracer.enabled:
        _extract_infer_layers(run, kgs)
        live.layers()


def _extract_infer_layers(run: Run, kgs: list) -> None:
    """A Spark job or stage of a run_pipeline call belongs to the window
    (extract + link/CC, then fixpoint) its submission time falls in; the
    windows are laid end to end from the call's start by ``stage_walls``."""
    ext, fix = [], []
    for _, sp, res in kgs:
        w = res.metrics["stage_walls"]
        b = sp["t0"] + w["extract_s"] + w["link_cc_s"]
        ext.append(run.tracer.window(sp, sp["t0"], b))
        fix.append(run.tracer.window(sp, b, b + w["fixpoint_s"]))
    walls = [res.metrics["stage_walls"] for _, _, res in kgs]
    rounds = [res.metrics["iteration_metrics"] for _, _, res in kgs]
    n = _median([len(rs) for rs in rounds])
    run.layers.update(
        {
            "extract.extract_s": _median([w["extract_s"] for w in walls]),
            "extract.link_cc_s": _median([w["link_cc_s"] for w in walls]),
            "extract.jobs": _span_median(ext, "jobs"),
            "extract.shuffle_bytes": _span_median(ext, SHUFFLE),
            "extract.idle_s": _span_median(ext, "idle_s"),
            "extract.cpu_util": _span_median(ext, "cpu_util"),
            "extract.canonical_rows": kgs[0][2].canonical.count() if kgs else 0,
            "infer.rounds": n,
            "infer.round_s_p50": _median([_median([m["wall_s"] for m in rs]) for rs in rounds]),
            "infer.jobs_per_round": _span_median(fix, "jobs") / n if n else 0.0,
            "infer.idle_s": _span_median(fix, "idle_s"),
            "infer.delta_rows": _median([sum(m["delta_rows"] for m in rs) for rs in rounds]),
            "infer.facts_rows": _median([max((m.get("facts_rows", 0) for m in rs), default=0) for rs in rounds]),
        }
    )


def _parquet_bytes(d: str) -> list:
    return [
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    ]


class LiveUpdates:
    """live_updates: one client in a closed loop over an IncrementalReasoner.
    A cycle is one insert batch (``process_batch``); a SPARQL read over
    ``facts()`` follows every op. Whole cycles run until the phase budget
    is spent. The traced run then retracts some leaf edges of the last
    batch (``retract_batch``, DRed) and reads again: a retraction costs
    ~11 s here, which the untraced runs cannot afford within the run
    budget (README.md)."""

    def __init__(self, run: Run):
        self.run = run
        self.parent = inputs.tree_parents(run.size["live_nodes"], run.seed + 1_000_003)
        self.rng = np.random.default_rng([run.seed, 4])
        self.model = oracles.LiveModel(self.parent, QUERY_ROOT)
        self.store_dir = run.path("live", "store")
        self.ops: list = []

    def _batch(self, i: int) -> tuple:
        """Insert and retraction files of cycle i, written before timing."""
        b = self.run.size["live_batch"]
        lo = 1 + i * b
        ids = np.arange(lo, min(lo + b, len(self.parent)))
        short = ids[self.rng.random(len(ids)) < SHORTCUT_RATE]
        # retract leaf edges only (no child inserted yet): each cones over
        # ~depth ancestor pairs, so the retraction's work does not swing
        # with which nodes a seed happens to hit
        leaves = ids[2 * ids > ids[-1]]
        retract = leaves[self.rng.random(len(leaves)) < RETRACT_RATE]
        ins_path = self.run.path("live", f"insert_{i}.parquet")
        ret_path = self.run.path("live", f"retract_{i}.parquet")
        os.makedirs(os.path.dirname(ins_path), exist_ok=True)
        pq.write_table(
            pa.concat_tables(
                [inputs.edge_table(ids, self.parent), inputs.edge_table(short, self.parent, "ancestor")]
            ),
            ins_path,
        )
        pq.write_table(inputs.edge_table(retract, self.parent), ret_path)
        return ids, short, retract, ins_path, ret_path

    def _op(self, kind: str, fn, **rec) -> object:
        out, wall, sp = self.run.timed(f"live_updates.{kind}", fn)
        self.ops.append(dict(rec, kind=kind, wall=wall, span=sp, out=out))
        return out

    def _query(self) -> None:
        from rify_spark.sparql import sparql_select

        n = self._op("query", lambda: sparql_select(self.reasoner.facts(), SPARQL_QUERY).count())
        if n is not None:
            self.run.check(n == self.model.totals()[3] + self.run.skew, "live_updates SPARQL count")

    def loop(self) -> None:
        from rify_spark.streaming.incremental import IncrementalReasoner

        run = self.run
        read = run.spark.read.parquet
        self.reasoner = IncrementalReasoner(run.spark, ancestry_rules(), self.store_dir)
        n_cycles = (len(self.parent) - 2) // run.size["live_batch"] + 1
        t_phase = time.perf_counter()
        for i in range(n_cycles):
            if i and not run.budget_left(t_phase):
                break
            ids, short, retract, ins_path, ret_path = self._batch(i)
            self._op("insert", lambda: self.reasoner.process_batch(read(ins_path), i) or True)
            self.model.insert(ids, short)
            self._query()
        self.phase_ops = list(self.ops)
        if run.tracer.enabled:
            self._op("retract", lambda: self.reasoner.retract_batch(read(ret_path)))
            self.model.retract(retract)
            self._query()
        self._check_store()

    def _check_store(self) -> None:
        from pyspark.sql import functions as F

        run = self.run
        parents, shortcuts, pairs, _ = self.model.totals()
        by_p = self.reasoner.facts().groupBy("p").agg(F.count("*").alias("n")).collect()
        counts = {r["p"]: r["n"] for r in by_p}
        self.store_rows = sum(counts.values())
        run.check(counts.get("parent", 0) == parents + run.skew, "live_updates surviving parent premises")
        run.check(counts.get("ancestor", 0) == pairs + run.skew, "live_updates ancestor pairs")
        prem = run.spark.read.parquet(self.reasoner.premises_dir).select("s", "p", "o", "g").distinct().count()
        run.check(prem == parents + shortcuts + run.skew, "live_updates premise set")

    def layers(self) -> None:
        by = {k: [o for o in self.ops if o["kind"] == k] for k in ("insert", "retract", "query")}
        ins = [o["span"] for o in by["insert"]]
        qs = [o["span"] for o in by["query"]]
        ret = [o for o in by["retract"] if o["out"]]
        cone = sum(o["out"]["cone"] for o in ret)
        store_files = _parquet_bytes(self.store_dir)
        all_bytes = sum(store_files) + sum(_parquet_bytes(self.reasoner.premises_dir))
        self.run.layers.update(
            {
                "streaming.insert_p50_s": _median([o["wall"] for o in by["insert"]]),
                "streaming.inserts": len(by["insert"]),
                "streaming.insert_jobs": _span_median(ins, "jobs"),
                "streaming.insert_shuffle_bytes": _span_median(ins, SHUFFLE),
                "streaming.insert_idle_s": _span_median(ins, "idle_s"),
                "streaming.store_rows": self.store_rows,
                "streaming.store_files": len(store_files),
                "streaming.store_bytes_per_quad": all_bytes / max(self.store_rows, 1),
                "retract.retract_p50_s": _median([o["wall"] for o in by["retract"]]),
                "retract.retractions": len(by["retract"]),
                "retract.jobs": _span_median([o["span"] for o in ret], "jobs"),
                "retract.cone_rows": _median([o["out"]["cone"] for o in ret]),
                "retract.readded_rows": _median([o["out"]["readded"] for o in ret]),
                "retract.rederive_ratio": sum(o["out"]["readded"] for o in ret) / cone if cone else 0.0,
                "retract.overdelete_rounds": _median([o["out"]["overdelete_rounds"] for o in ret]),
                "retract.rederive_rounds": _median([o["out"]["rederive_rounds"] for o in ret]),
                "sparql.query_p50_s": _median([o["wall"] for o in by["query"]]),
                "sparql.queries": len(by["query"]),
                "sparql.query_jobs": _span_median(qs, "jobs"),
                "sparql.query_shuffle_bytes": _span_median(qs, SHUFFLE),
                "sparql.result_rows": _median([o["out"] for o in by["query"]]),
            }
        )


WORKLOADS = {"closure_neardup": closure_neardup, "kg_live": kg_live}
