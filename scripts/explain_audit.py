"""Physical-plan audit: capture .explain("formatted") for key operators and
check the plan properties that matter at 100 TB:

  * parquet scans show PushedFilters / pruned ReadSchema (no full-width
    scans for narrow projections);
  * small sides of joins are broadcast (rule-constant-filtered atoms,
    query vectors, dictionaries);
  * hot expressions sit inside WholeStageCodegen spans, not Python;
  * the semi-naive iteration joins use the delta broadcast while small.

Writes PLANS.md with the captured plans and a PASS/FAIL property table.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvable() if hasattr(buf, "getvable") else buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from rify_spark.ops import quads, similarity, text
    from rify_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)

    checks = []
    sections = []

    def audit(name, df, props):
        p = plan_of(df)
        sections.append((name, p))
        for desc, pattern, want in props:
            ok = bool(re.search(pattern, p)) == want
            checks.append((name, desc, ok))

    # 1. pattern scan: constant filters must push into the parquet scan
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    narrow = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    audit(
        "narrow_projection_with_filter",
        narrow,
        [
            ("filter pushed to scan", r"PushedFilters: \[.*lang.*\]", True),
            ("column-pruned ReadSchema (no text col)", r"ReadSchema:[^\n]*text", False),
            ("whole-stage codegen", r"\[codegen id :", True),
        ],
    )

    # 2. conjunctive match: the small (customer) atom relation must come in
    # as a broadcast-hash join, filters pushed to both scans. Under AQE the
    # pre-execution plan shows no codegen ids, so assert the join strategy.
    cm = quads.conjunctive_match(spark, SF_DIR)
    audit(
        "conjunctive_match",
        cm,
        [
            ("broadcast-hash join", r"BroadcastHashJoin", True),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )

    # 3. kNN: the query side must be broadcast
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    knn = similarity.knn_bruteforce(emb)
    audit(
        "knn_bruteforce",
        knn,
        [
            ("broadcast of query side", r"Broadcast", True),
        ],
    )

    # 4. text quality: pure JVM expressions (no Python eval nodes)
    tq = text.quality_score(docs)
    audit(
        "text_quality",
        tq,
        [
            ("no python UDF in plan", r"(BatchEvalPython|ArrowEvalPython)", False),
            ("whole-stage codegen", r"\[codegen id :", True),
        ],
    )

    # 5. FactStore novelty anti-join (large-store mode): the candidate side
    # pays exactly ONE requirement exchange; every block side is read in
    # place from the partitioned+sorted cache (zero ENSURE_REQUIREMENTS
    # exchanges, zero sorts above the InMemoryTableScans). This is THE
    # property that keeps per-iteration facts-side shuffle bytes flat at
    # 100x store growth.
    from rify_spark.infer import FactStore, SPOG

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # pin P = spark.sql.shuffle.partitions: a large store always rides
        # at the conf cap (rows/200k >> conf), and EnsureRequirements only
        # reuses an existing child partitioning at the conf width; P=1
        # blocks would collapse to SinglePartition and defeat the check
        store = FactStore(spark, fixed_partitions=16, compact_every=8)
        store.single_anti_max_rows = 0  # force chained (large-store) mode
        base = quads.tpch_quads(spark, SF_DIR)
        store.seed(base)
        for i in range(2):
            # append's count job fills the block cache
            store.append(base.limit(500 + i).localCheckpoint(eager=True))
        cand = quads.tree_edges(spark, SF_DIR)
        anti = store.anti(cand)
        top = anti._jdf.queryExecution().executedPlan().toString()
        top_level = top.split("InMemoryRelation")[0]
        n_ensure = top.count("ENSURE_REQUIREMENTS")
        sections.append(("factstore_anti_join", top[:6000]))
        checks.append(
            (
                "factstore_anti_join",
                "facts side exchange-free (1 requirement exchange total, cand only)",
                n_ensure == 1,
            )
        )
        checks.append(
            (
                "factstore_anti_join",
                "blocks read from partitioned cache (InMemoryTableScan present)",
                "InMemoryTableScan" in top_level or "InMemoryTableScan" in top,
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")

    # 6. targeted salted join (the matcher's hot-key path): the hot side is
    # replicated via explode (Generate node), the join key set is extended
    # by the salt, and the plan stays an equi-join — no cartesian blowup.
    from rify_spark.skew import targeted_salted_join

    lq = quads.tree_edges(spark, SF_DIR).select("s", "o")
    rq = quads.tree_edges(spark, SF_DIR).select(F.col("s").alias("s2"), "o")
    sj = targeted_salted_join(lq, rq, ["o"], hot_values=[("node:1",)], n_salts=8)
    audit(
        "targeted_salted_join",
        sj,
        [
            ("hot rows replicated via explode", r"Generate.*\n|explode", True),
            ("join keyed on salt", r"__salt", True),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )

    # 7. IVF cell assignment: the NLIST-row centroid table is broadcast
    # against the corpus (the deliberate n x NLIST small cross), and the
    # integer distance math is JVM-side
    ivf = similarity.knn_ivf(emb)
    audit(
        "knn_ivf",
        ivf,
        [
            ("centroid/probe side broadcast", r"BroadcastExchange", True),
            ("no python UDF in plan", r"(BatchEvalPython|ArrowEvalPython)", False),
        ],
    )

    # 8. graph materialize: vertex degrees in exactly ONE shuffle (the
    # indicator-union + sum design), pure JVM expressions
    from rify_spark.ops import graph

    gv = graph.graph_vertices(spark, SF_DIR)
    gv_exec = gv._jdf.queryExecution().executedPlan().toString()
    sections.append(("graph_vertices", gv_exec[:4000]))
    checks.append(
        (
            "graph_vertices",
            "single shuffle (1 Exchange) for out+in degrees",
            gv_exec.count("Exchange") == 1,
        )
    )
    checks.append(
        (
            "graph_vertices",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", gv_exec),
        )
    )

    # 9. sliding windows: the hopping-window Expand/Explode feeds a single
    # aggregate shuffle; no python UDF
    from rify_spark.ops import events

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sl = events.sliding_counts(ev)
    sl_exec = sl._jdf.queryExecution().executedPlan().toString()
    sections.append(("events_sliding", sl_exec[:4000]))
    checks.append(
        (
            "events_sliding",
            "single aggregate shuffle (1 Exchange)",
            sl_exec.count("Exchange") == 1,
        )
    )
    checks.append(
        (
            "events_sliding",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", sl_exec),
        )
    )

    # 10. retraction (DRed, streaming/retract.py): the subtract fold
    # (FactStore.rebuild over subtract_plan) must read the cached
    # s-partitioned blocks with NO exchange and anti-join a BROADCAST cone;
    # the goal-directed re-derive probes must start from the broadcast
    # head-binding side and stay JVM-only.
    from rify_spark.infer import FactStore, SPOG
    from rify_spark.rules import Bound as RB, Rule, Unbound as RU, lower_rule
    from rify_spark.streaming.retract import _rederive_rule, subtract_plan

    dg = "dg"
    rules = [
        Rule.create(
            [
                [RU("a"), RB("anc"), RU("b"), RB(dg)],
                [RU("b"), RB("anc"), RU("c"), RB(dg)],
            ],
            [[RU("a"), RB("anc"), RU("c"), RB(dg)]],
        )
    ]
    lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
    seed = spark.createDataFrame(
        [(f"n{k}", "anc", f"n{k + 1}", dg) for k in range(64)],
        "s string, p string, o string, g string",
    )
    fstore = FactStore(spark)
    fstore.seed(seed)
    cone = seed.limit(8).localCheckpoint(eager=True)
    sub = subtract_plan(fstore, cone, 8)
    sub_exec = sub._jdf.queryExecution().executedPlan().toString()
    sections.append(("retract_subtract_fold", sub_exec[:4000]))
    checks.append(
        (
            "retract_subtract_fold",
            "cone side broadcast (BroadcastHashJoin LeftAnti)",
            bool(re.search(r"BroadcastHashJoin .*LeftAnti", sub_exec)),
        )
    )
    # Exchanges inside the InMemoryRelation are the cached block's
    # ORIGIN plan (the seed repartition), not per-fold work: as in check
    # #5, the property is zero requirement-inserted exchanges above the
    # cached scans.
    checks.append(
        (
            "retract_subtract_fold",
            "store side scans cached blocks, no requirement exchange",
            "ENSURE_REQUIREMENTS" not in sub_exec
            and "InMemoryTableScan" in sub_exec,
        )
    )
    red_plans = _rederive_rule(
        fstore.union(), lrules[0], F.broadcast(cone), seed.schema["s"].dataType
    )
    red_exec = red_plans[0]._jdf.queryExecution().executedPlan().toString()
    sections.append(("retract_rederive_probe", red_exec[:4000]))
    checks.append(
        (
            "retract_rederive_probe",
            "goal-directed: probe starts from broadcast cone bindings",
            "BroadcastHashJoin" in red_exec,
        )
    )
    checks.append(
        (
            "retract_rederive_probe",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", red_exec),
        )
    )

    # 11. fuzzy-dedup clustering: the star-edge build must contain no
    # self-join / cartesian blowup — no join at all (the bucket min is one
    # window over the band rows) and the minhash aggregate evaluated ONCE
    # (one doc_id exchange), all JVM-side.
    from rify_spark.ops.dedup import _star_edges

    star = _star_edges(docs)
    star_exec = star._jdf.queryExecution().executedPlan().toString()
    sections.append(("dedup_star_edges", star_exec[:4000]))
    checks.append(
        (
            "dedup_star_edges",
            "no cartesian / nested-loop join",
            not re.search(r"(CartesianProduct|BroadcastNestedLoopJoin)", star_exec),
        )
    )
    checks.append(
        (
            "dedup_star_edges",
            "bucket min is a window, no join (no pair self-join, no join back)",
            "Window" in star_exec
            and not re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", star_exec),
        )
    )
    checks.append(
        (
            "dedup_star_edges",
            "minhash aggregate evaluated once (one doc_id exchange)",
            len(re.findall(r"Exchange hashpartitioning\(doc_id", star_exec)) == 1,
        )
    )
    checks.append(
        (
            "dedup_star_edges",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", star_exec),
        )
    )

    # 12. decontamination: the corpus side must meet the eval n-grams in a
    # BROADCAST join (benchmarks are MB-sized at 100 TB) and pay only the
    # one partial-aggregated groupBy(doc_id) exchange.
    from rify_spark.ops.decon import decontaminate

    dec = decontaminate(docs)
    dec_exec = dec._jdf.queryExecution().executedPlan().toString()
    sections.append(("docs_decontaminate", dec_exec[:4000]))
    checks.append(
        (
            "docs_decontaminate",
            "eval n-gram set broadcast to the corpus side",
            "BroadcastHashJoin" in dec_exec,
        )
    )
    checks.append(
        (
            "docs_decontaminate",
            "no corpus-sized shuffle join (broadcast only)",
            not re.search(r"(SortMergeJoin|ShuffledHashJoin)", dec_exec),
        )
    )
    checks.append(
        (
            "docs_decontaminate",
            # the eval-side DISTINCT alone contributes a partial+final pair,
            # so >=2 would be vacuous; the doc_id hit count must add its own
            "hit count is map-side partial (HashAggregate x4 incl. distinct)",
            len(re.findall(r"HashAggregate", dec_exec)) >= 4,
        )
    )
    checks.append(
        (
            "docs_decontaminate",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", dec_exec),
        )
    )

    # 13. repetition signals: a pure narrow projection — no exchange at all,
    # whole expression inside codegen.
    from rify_spark.ops.text import repetition

    rep = repetition(docs)
    rep_exec = rep._jdf.queryExecution().executedPlan().toString()
    sections.append(("text_repetition", rep_exec[:4000]))
    checks.append(
        (
            "text_repetition",
            "no shuffle (narrow projection)",
            "Exchange" not in rep_exec,
        )
    )
    checks.append(
        (
            "text_repetition",
            # higher-order functions (transform/array_distinct) are not
            # codegen-supported; the scan+tokenize stage must still be
            "scan + tokenize stage inside WholeStageCodegen",
            bool(re.search(r"\*\(\d+\) Project .*split", rep_exec)),
        )
    )
    checks.append(
        (
            "text_repetition",
            "scan pruned to doc_id,text",
            bool(re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", rep_exec)),
        )
    )
    checks.append(
        (
            "text_repetition",
            "bigram array computed once (single materialized alias)",
            len(re.findall(r"transform\(sequence", rep_exec)) == 1,
        )
    )
    checks.append(
        (
            "text_repetition",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", rep_exec),
        )
    )

    # 13. graph analytics: PageRank iteration joins and the degree-oriented
    # triangle wedge join must stay equi-joins (no cartesian, no python);
    # the N-Quads parse is a pure-JVM single-stage projection
    pr = graph.graph_pagerank(spark, SF_DIR)
    pr_exec = pr._jdf.queryExecution().executedPlan().toString()
    sections.append(("graph_pagerank", pr_exec[:4000]))
    checks.append(
        (
            "graph_pagerank",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", pr_exec),
        )
    )
    checks.append(
        ("graph_pagerank", "no cartesian product", "CartesianProduct" not in pr_exec)
    )
    tc = graph.graph_triangles(spark, SF_DIR)
    tc_exec = tc._jdf.queryExecution().executedPlan().toString()
    sections.append(("graph_triangles", tc_exec[:4000]))
    checks.append(
        (
            "graph_triangles",
            "wedge + closing joins are equi-joins (no cartesian)",
            "CartesianProduct" not in tc_exec,
        )
    )
    checks.append(
        (
            "graph_triangles",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", tc_exec),
        )
    )
    from rify_spark.rdf import rdf_nquads_roundtrip

    nq = rdf_nquads_roundtrip(spark, SF_DIR)
    nq_exec = nq._jdf.queryExecution().executedPlan().toString()
    sections.append(("rdf_nquads_roundtrip", nq_exec[:4000]))
    checks.append(
        (
            "rdf_nquads_roundtrip",
            "parse is pure JVM regexp (no python UDF)",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", nq_exec),
        )
    )
    checks.append(
        (
            "rdf_nquads_roundtrip",
            "no shuffle in serialize->parse (narrow pipeline)",
            "Exchange" not in nq_exec,
        )
    )

    # SPARQL front-end: aggregates, path expressions, subqueries
    from rify_spark.sparql import (
        sparql_agg_count_gate,
        sparql_compat_join_gate,
        sparql_path_expr_gate,
        sparql_subquery_gate,
    )

    cj_exec = (
        sparql_compat_join_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_compat_join", cj_exec[:4000]))
    checks.append(
        (
            "sparql_compat_join",
            "null-split decomposition: the bound=bound mass equi-joins "
            "(hash join present despite no definitely-bound key)",
            bool(
                re.search(r"(BroadcastHashJoin|SortMergeJoin)", cj_exec)
            ),
        )
    )
    checks.append(
        (
            "sparql_compat_join",
            "no unconditioned cartesian product (nested-loop legs are "
            "null-slice-restricted and conditioned)",
            "CartesianProduct" not in cj_exec,
        )
    )

    agg_exec = (
        sparql_agg_count_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_agg_count", agg_exec[:4000]))
    checks.append(
        (
            "sparql_agg_count",
            "partial aggregation (map-side combine) before the shuffle",
            bool(re.search(r"partial_count", agg_exec)),
        )
    )
    checks.append(
        (
            "sparql_agg_count",
            "JVM-only, no cartesian product",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                agg_exec,
            ),
        )
    )

    pe_exec = (
        sparql_path_expr_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_path_expr", pe_exec[:4000]))
    checks.append(
        (
            "sparql_path_expr",
            "predicate constants prune the quad union to just the two "
            "edge tables (no orders scan)",
            bool(re.search(r"nation\.parquet", pe_exec))
            and bool(re.search(r"customer\.parquet", pe_exec))
            and not re.search(r"orders\.parquet", pe_exec),
        )
    )
    checks.append(
        (
            "sparql_path_expr",
            "equi-join composition, no cartesian, no Python",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                pe_exec,
            ),
        )
    )

    sq_exec = (
        sparql_subquery_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_subquery", sq_exec[:4000]))
    checks.append(
        (
            "sparql_subquery",
            "subquery aggregates partially before joining the outer group",
            bool(re.search(r"partial_count", sq_exec)),
        )
    )
    checks.append(
        (
            "sparql_subquery",
            "JVM-only, no cartesian product",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                sq_exec,
            ),
        )
    )

    from rify_spark.sparql import sparql_bind_gate

    bd_exec = (
        sparql_bind_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_bind", bd_exec[:4000]))
    checks.append(
        (
            "sparql_bind",
            "BIND expressions are JVM projections (no Python eval, no "
            "cartesian product)",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                bd_exec,
            ),
        )
    )
    checks.append(
        (
            "sparql_bind",
            "constant predicates prune the unused quad-union branch "
            "(no nation scan: the BGP never touches in_region)",
            not re.search(r"nation\.parquet", bd_exec),
        )
    )

    from rify_spark.sparql import sparql_agg_expr_gate, sparql_order_expr_gate

    ax_exec = (
        sparql_agg_expr_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_agg_expr", ax_exec[:4000]))
    checks.append(
        (
            "sparql_agg_expr",
            "expression aggregates keep ONE partial-aggregating shuffle "
            "(map-side combine present)",
            bool(re.search(r"partial_sum|partial_min", ax_exec))
            and ax_exec.count("Exchange hashpartitioning") <= 3,
        )
    )
    checks.append(
        (
            "sparql_agg_expr",
            "per-row aggregate expressions are JVM-side (no Python eval)",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", ax_exec),
        )
    )

    ox_exec = (
        sparql_order_expr_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_order_expr", ox_exec[:4000]))
    checks.append(
        (
            "sparql_order_expr",
            "ordered LIMIT plans as one global top-k "
            "(TakeOrderedAndProject, no full Sort+Exchange)",
            "TakeOrderedAndProject" in ox_exec
            and not re.search(r"Exchange rangepartitioning", ox_exec),
        )
    )

    from rify_spark.sparql import sparql_optional_cond_gate

    oc_exec = (
        sparql_optional_cond_gate(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    sections.append(("sparql_optional_cond", oc_exec[:4000]))
    checks.append(
        (
            "sparql_optional_cond",
            "deferred OPTIONAL filter = LeftOuter HASH join on the "
            "shared key with the condition as a join filter (no "
            "cartesian, no post-join filter node for it)",
            bool(
                re.search(
                    r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
                    r".*LeftOuter",
                    oc_exec,
                )
            )
            and "Cartesian" not in oc_exec
            and "BroadcastNestedLoop" not in oc_exec,
        )
    )
    checks.append(
        (
            "sparql_optional_cond",
            "LeftJoin condition evaluates JVM-side (no Python eval)",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", oc_exec),
        )
    )

    from rify_spark.sparql import sparql_term_funcs_gate

    tf_df = sparql_term_funcs_gate(spark, SF_DIR)
    tf_df.collect()  # finalize the AQE plan so codegen spans are visible
    tf_exec = tf_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_term_funcs", tf_exec[:4000]))
    checks.append(
        (
            "sparql_term_funcs",
            "term-kind projections (isIRI/LANG/DATATYPE/STR/*) are JVM "
            "when/regexp expressions — no Python eval, no cartesian",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                tf_exec,
            ),
        )
    )
    checks.append(
        (
            "sparql_term_funcs",
            "term filters + projections stay inside whole-stage codegen "
            "over the scans (no interpreted-eval fallback; codegen "
            "prints as the *(n) span prefix in the final AQE plan)",
            bool(re.search(r"\*\(\d+\) Project", tf_exec))
            and bool(re.search(r"\*\(\d+\) Filter", tf_exec)),
        )
    )

    from rify_spark.sparql import sparql_datetime_gate

    dt_df = sparql_datetime_gate(spark, SF_DIR)
    dt_df.collect()
    dt_exec = dt_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_datetime", dt_exec[:4000]))
    checks.append(
        (
            "sparql_datetime",
            "dateTime accessors (YEAR..TIMEZONE) are JVM regexp/when "
            "expressions — no Python eval, no cartesian",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                dt_exec,
            ),
        )
    )
    checks.append(
        (
            "sparql_datetime",
            "accessor projection + numeric FILTER run inside "
            "whole-stage codegen over the scan",
            bool(re.search(r"\*\(\d+\) Project", dt_exec))
            and bool(re.search(r"\*\(\d+\) Filter", dt_exec)),
        )
    )

    from rify_spark.sparql import sparql_literal_terms_gate

    lt_df = sparql_literal_terms_gate(spark, SF_DIR)
    lt_df.collect()
    lt_exec = lt_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_literal_terms", lt_exec[:4000]))
    checks.append(
        (
            "sparql_literal_terms",
            "raw-form literal constants compile to JVM constant-slot "
            "equality filters and hash joins — no Python eval, no "
            "cartesian/nested-loop join",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct"
                r"|BroadcastNestedLoop)",
                lt_exec,
            )
            and bool(
                re.search(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                    lt_exec,
                )
            ),
        )
    )

    from rify_spark.sparql import sparql_construct_where_gate

    cw_df = sparql_construct_where_gate(spark, SF_DIR)
    cw_df.collect()
    cw_exec = cw_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_construct_where", cw_exec[:4000]))
    checks.append(
        (
            "sparql_construct_where",
            "CONSTRUCT WHERE = hash join + one distinct aggregate "
            "(set semantics), no Python eval, no cartesian",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                cw_exec,
            )
            and "HashAggregate" in cw_exec,
        )
    )

    from rify_spark.update import sparql_update_with_gate

    uw_df = sparql_update_with_gate(spark, SF_DIR)
    uw_df.collect()
    uw_exec = uw_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_update_with", uw_exec[:4000]))
    checks.append(
        (
            "sparql_update_with",
            "WITH/USING modify sequence: USING dataset + matches are "
            "hash joins, the WITH-graph delete is a left-anti join — "
            "no Python eval, no cartesian/nested-loop join",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct"
                r"|BroadcastNestedLoop)",
                uw_exec,
            )
            and "LeftAnti" in uw_exec
            and bool(
                re.search(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                    uw_exec,
                )
            ),
        )
    )

    from rify_spark.sparql import (
        sparql_exists_expr_gate,
        sparql_trailing_values_gate,
    )

    ee_df = sparql_exists_expr_gate(spark, SF_DIR)
    ee_df.collect()
    ee_exec = ee_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_exists_expr", ee_exec[:4000]))
    checks.append(
        (
            "sparql_exists_expr",
            "EXISTS operands compile to 1:0/1 marker LEFT joins over "
            "distinct key sets — hash-planned, no Python eval, no "
            "cartesian",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                ee_exec,
            )
            and "LeftOuter" in ee_exec
            and bool(
                re.search(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                    ee_exec,
                )
            ),
        )
    )

    tv_df = sparql_trailing_values_gate(spark, SF_DIR)
    tv_df.collect()
    tv_exec = tv_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_trailing_values", tv_exec[:4000]))
    checks.append(
        (
            "sparql_trailing_values",
            "trailing VALUES joins the aggregated solutions as a "
            "broadcast of the driver-local constant table — one "
            "partial-aggregating exchange, no Python eval",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                tv_exec,
            )
            and "BroadcastHashJoin" in tv_exec
            and "HashAggregate" in tv_exec,
        )
    )

    from rify_spark.sparql import sparql_ndet_gate
    from rify_spark.update import sparql_update_bnode_gate

    nd_df = sparql_ndet_gate(spark, SF_DIR)
    nd_df.collect()
    nd_exec = nd_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_ndet", nd_exec[:4000]))
    checks.append(
        (
            "sparql_ndet",
            "BNODE/UUID/STRUUID mints are pure JVM md5 projections — "
            "no Python eval, no exchange beyond the pattern match, "
            "whole-stage codegen",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                nd_exec,
            )
            and "md5" in nd_exec
            and nd_exec.count("Exchange") <= 2,
        )
    )

    ub_df = sparql_update_bnode_gate(spark, SF_DIR)
    ub_df.collect()
    ub_exec = ub_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_update_bnodes", ub_exec[:4000]))
    checks.append(
        (
            "sparql_update_bnodes",
            "INSERT-template bnode mints ride the head projection as "
            "JVM md5 expressions; the DATA mint is a driver constant — "
            "no Python eval, no cartesian",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                ub_exec,
            )
            and "md5" in ub_exec,
        )
    )

    from rify_spark.sparql import sparql_service_gate

    svc_df = sparql_service_gate(spark, SF_DIR)
    svc_df.collect()
    svc_exec = svc_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_service", svc_exec[:4000]))
    checks.append(
        (
            "sparql_service",
            "SERVICE federation compiles to the same hash-join plans "
            "as a local pattern — no Python eval, no cartesian, "
            "hash-strategy joins across the two datasets",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                svc_exec,
            )
            and bool(
                re.search(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                    svc_exec,
                )
            ),
        )
    )

    from rify_spark.ops.graph import bfs_levels

    bfs_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "s string, o string"
    )
    bfs_src = spark.createDataFrame([("a",)], "node string")
    bfs_df = bfs_levels(bfs_edges, bfs_src)
    bfs_exec = bfs_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("graph_bfs_levels", bfs_exec[:4000]))
    checks.append(
        (
            "graph_bfs_levels",
            "BFS result is localCheckpoint-truncated level blocks — "
            "constant-depth plan (scan/union only), no Python eval, "
            "no cartesian, no join replay in the RESULT plan",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct|"
                r"Join)",
                bfs_exec,
            ),
        )
    )

    # round-5 continuation ops: snapshot/diff single-aggregate shapes,
    # SQ8 broadcast stats, compat-EXISTS hash-semi, TF-IDF JVM pipeline
    from rify_spark.ops import snapshot as snap_mod

    snap_df = snap_mod.corpus_snapshot(spark, SF_DIR)
    snap_exec = snap_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("corpus_snapshot", snap_exec[:4000]))
    checks.append(
        (
            "corpus_snapshot",
            "as-of snapshot is ONE partial-aggregating exchange "
            "(max_by with map-side combine), never a sort-window",
            snap_exec.count("Exchange") == 1
            and "partial_max_by" in snap_exec
            and "Window" not in snap_exec,
        )
    )

    from pyspark.sql import functions as FF

    diff_corpus = snap_mod.versioned_corpus(spark, SF_DIR)
    diff_df = snap_mod.corpus_diff(
        diff_corpus, FF.lit(1000), FF.lit(2000)
    )
    diff_exec = diff_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("corpus_diff", diff_exec[:4000]))
    checks.append(
        (
            "corpus_diff",
            "both as-of snapshots ride a SINGLE two-branch aggregate "
            "over one scan — 1 Exchange, no Join",
            diff_exec.count("Exchange") == 1 and "Join" not in diff_exec,
        )
    )

    sq8_df = similarity.emb_sq8_codes(emb)
    sq8_exec = sq8_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("emb_sq8_codes", sq8_exec[:4000]))
    checks.append(
        (
            "emb_sq8_codes",
            "per-dimension scales broadcast back onto the exploded "
            "projection (64-row stats side), all-JVM integer math",
            "BroadcastExchange" in sq8_exec
            and not re.search(
                r"(BatchEvalPython|ArrowEvalPython)", sq8_exec
            ),
        )
    )

    from rify_spark.sparql import sparql_exists_compat_gate

    ec_df = sparql_exists_compat_gate(spark, SF_DIR)
    ec_exec = ec_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("sparql_exists_compat", ec_exec[:4000]))
    checks.append(
        (
            "sparql_exists_compat",
            "compat-EXISTS membership: bound=bound leg is a hash/merge "
            "LeftSemi on the shared var; no cartesian product anywhere",
            "CartesianProduct" not in ec_exec
            and bool(
                re.search(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
                    r" \[\w*ord#\d+\], \[__x_\w*ord#\d+\], LeftSemi",
                    ec_exec,
                )
            ),
        )
    )

    from rify_spark.ops import text as text_mod

    tf_df = text_mod.tfidf_top_terms(docs)
    tf_exec = tf_df._jdf.queryExecution().executedPlan().toString()
    sections.append(("text_tfidf", tf_exec[:4000]))
    checks.append(
        (
            "text_tfidf",
            "TF-IDF is a pure JVM pipeline: no Python eval, no "
            "cartesian; the df side joins hash-strategy",
            not re.search(
                r"(BatchEvalPython|ArrowEvalPython|CartesianProduct)",
                tf_exec,
            )
            and bool(
                re.search(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
                    tf_exec,
                )
            ),
        )
    )

    # docs_pack (round-6 fix): the global token cumsum must be the two-pass
    # distributed form — the running-sum window partitioned by the range-
    # partition id, NEVER an unpartitioned window over Exchange
    # SinglePartition (the round-5 scale-killer). pack_offsets collects its
    # per-partition partials at construction time, so the final DF's plan is
    # the checkpoint-backed projection; audit the windowed SUBPLAN instead
    # by rebuilding the pre-checkpoint pipeline shape here.
    from pyspark.sql import Window as W

    pk_docs = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    pk_ranged = pk_docs.repartitionByRange(16, "doc_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    pk_w = W.partitionBy("_pid").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    pk_win = pk_ranged.withColumn("cum", F.sum("n_tokens").over(pk_w))
    pk_exec = pk_win._jdf.queryExecution().executedPlan().toString()
    sections.append(("docs_pack_cumsum", pk_exec[:4000]))
    checks.append(
        (
            "docs_pack_cumsum",
            "running-sum window is partitioned (no Exchange "
            "SinglePartition anywhere in the cumsum plan)",
            "Exchange SinglePartition" not in pk_exec
            and "Window" in pk_exec,
        )
    )
    checks.append(
        (
            "docs_pack_cumsum",
            "no python UDF in plan",
            not re.search(r"(BatchEvalPython|ArrowEvalPython)", pk_exec),
        )
    )

    lines = ["# PLANS — physical-plan audit", ""]
    lines.append("| query | property | status |")
    lines.append("|---|---|---|")
    for name, desc, ok in checks:
        lines.append(f"| {name} | {desc} | {'PASS' if ok else 'FAIL'} |")
    lines.append("")
    for name, p in sections:
        lines.append(f"## {name}\n\n```\n{p.strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    bad = [c for c in checks if not c[2]]
    print(f"{len(checks) - len(bad)}/{len(checks)} plan properties PASS")
    for name, desc, _ in bad:
        print(f"FAIL: {name}: {desc}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
