"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the ancestry-closure fixpoint —
the real inference engine — over the customer-key tree at sf0.001).
``queries()`` exposes one entry per implemented operator from SURVEY.md §2
plus the training-data ops; ``oracle_sql()`` provides a DuckDB twin for
EVERY query — recursive SQL for the fixpoints, reference-pinned literals
for the proof/validate fixtures, and a closed-form derivation over the
deterministic synthetic corpus for the end-to-end KG pipeline.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

_shipped: set = set()


def _ship(spark: SparkSession) -> None:
    """Ship the rify_spark package to executors (spark-submit --py-files
    analog) so pandas UDFs unpickle on python workers regardless of the
    driver's working directory."""
    key = id(spark.sparkContext)
    if key in _shipped:
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"rify_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            pkg = os.path.join(REPO, "rify_spark")
            for root, _dirs, files in os.walk(pkg):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.relpath(full, REPO))
    spark.sparkContext.addPyFile(zpath)
    _shipped.add(key)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full transitive-closure fixpoint on /root/testdata/sf0.001."""
    from rify_spark.ops.quads import ancestry_closure

    return ancestry_closure(spark, "/root/testdata/sf0.001")


# --- individual query callables -------------------------------------------

def _q_ancestry(spark, sf_dir):
    from rify_spark.ops.quads import ancestry_closure

    return ancestry_closure(spark, sf_dir)


def _q_prove_lineage(spark, sf_dir):
    """Goal-directed lineage fixpoint: the arguments table (first winning
    derivation per derived quad) for proving the deepest node's ancestry."""
    from rify_spark.infer import InferConfig
    from rify_spark.ops.quads import TREE_G, tree_edges
    from rify_spark.prove import prove_fixpoint
    from rify_spark.rules import Bound as B, Rule, Unbound as U, lower_rule
    from rify_spark.infer import seed_facts

    edges = tree_edges(spark, sf_dir)
    maxk = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .agg(F.max("c_custkey"))
        .collect()[0][0]
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
    cfg = InferConfig()
    lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
    prem = edges.select("s", "p", "o", "g")
    prem_dedup = prem.dropDuplicates(["s", "p", "o", "g"])
    goals = spark.createDataFrame(
        [(f"node:{maxk}", "ancestor", "node:0", TREE_G)],
        "s string, p string, o string, g string",
    )
    facts0 = seed_facts(spark, prem, lrules)
    res = prove_fixpoint(spark, facts0, prem_dedup, goals, lrules, cfg)
    return res.arguments.select("s", "p", "o", "g", "rule_index", "iteration")


def _q_validate_roundtrip(spark, sf_dir):
    """prove -> validate round trip on the Explicit Ethos fixture; returns
    the implied set (the reference's own soundness oracle)."""
    from rify_spark.api import prove
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.validate import valid_to_dfs, validate

    DG = "default_graph"
    facts = [
        ("root_authority", "claims", "_:0", DG),
        ("_:0", "subject", "root_authority", DG),
        ("_:0", "predicate", "defersTo", DG),
        ("_:0", "object", "issuer", DG),
        ("issuer", "claims", "_:1", DG),
        ("_:1", "subject", "bobert", DG),
        ("_:1", "predicate", "mayPurchase", DG),
        ("_:1", "object", "vso:Vehicle", DG),
    ]
    rules = [
        Rule.create(
            [
                [U("super"), B("claims"), U("claim1"), B(DG)],
                [U("claim1"), B("subject"), U("super"), B(DG)],
                [U("claim1"), B("predicate"), B("defersTo"), B(DG)],
                [U("claim1"), B("object"), U("minor"), B(DG)],
            ],
            [[U("super"), B("defersTo"), U("minor"), B(DG)]],
        ),
        Rule.create(
            [
                [U("super"), B("defersTo"), U("minor"), B(DG)],
                [U("minor"), B("claims"), U("claim1"), B(DG)],
            ],
            [[U("super"), B("claims"), U("claim1"), B(DG)]],
        ),
        Rule.create(
            [
                [B("root_authority"), B("claims"), U("c"), B(DG)],
                [U("c"), B("subject"), U("s"), B(DG)],
                [U("c"), B("predicate"), U("p"), B(DG)],
                [U("c"), B("object"), U("o"), B(DG)],
            ],
            [[U("s"), U("p"), U("o"), B(DG)]],
        ),
    ]
    proof = prove(
        spark, facts, [("bobert", "mayPurchase", "vso:Vehicle", DG)], rules
    )
    valid = validate(rules, proof)
    _assumed, implied = valid_to_dfs(spark, valid)
    return implied


def _q_kg_pipeline(spark, sf_dir):
    """Full KG-construction pipeline over the deterministic synthetic corpus
    (size independent of sf_dir): derived depends_on quads."""
    _ship(spark)
    from rify_spark.extract import code_files_df
    from rify_spark.pipeline import run_pipeline

    corpus = code_files_df(spark, n_repos=3, n_modules=4, n_funcs=3)
    return run_pipeline(spark, corpus).derived


def _q_kg_mentions(spark, sf_dir):
    """mapInPandas mention extraction over documents (the extraction
    plumbing, oracle-checked against DuckDB regexp)."""
    _ship(spark)
    import re

    import pandas as pd

    def fn(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = sorted(
                    {
                        t
                        for t in (text or "").lower().split(" ")
                        if re.fullmatch("[a-z]{6,}", t)
                    }
                )
                rows.extend((int(did), t) for t in toks)
            yield pd.DataFrame(rows, columns=["doc_id", "mention"])

    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(fn, schema="doc_id long, mention string")
    )


def _q_rdfs_closure(spark, sf_dir):
    """The shipped RDFS ruleset (rify_spark/rulesets.py) over an ontology
    built from the TPC-H hierarchy: customers are typed by nation, nations
    subclass their region, regions chain by key; lives_in is a subproperty
    of located_in, which carries domain Person / range Place. Exercises
    subclass/subproperty transitivity, type propagation, and the
    variable-predicate domain/range rules in one fixpoint. Oracle: DuckDB
    recursive closure + joins."""
    from rify_spark.api import infer_df
    from rify_spark.rulesets import rdfs_rules

    G = "graph://rdfs"

    def lit(rows):
        return spark.createDataFrame(rows, "s string, p string, o string, g string")

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    quads = (
        cust.select(
            F.concat(F.lit("cust:"), "c_custkey").alias("s"),
            F.lit("rdf:type").alias("p"),
            F.concat(F.lit("nation:"), "c_nationkey").alias("o"),
            F.lit(G).alias("g"),
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("cust:"), "c_custkey").alias("s"),
                F.lit("lives_in").alias("p"),
                F.concat(F.lit("nation:"), "c_nationkey").alias("o"),
                F.lit(G).alias("g"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("nation:"), "n_nationkey").alias("s"),
                F.lit("rdfs:subClassOf").alias("p"),
                F.concat(F.lit("region:"), "n_regionkey").alias("o"),
                F.lit(G).alias("g"),
            )
        )
        .unionByName(
            reg.filter(F.col("r_regionkey") >= 1).select(
                F.concat(F.lit("region:"), "r_regionkey").alias("s"),
                F.lit("rdfs:subClassOf").alias("p"),
                F.concat(F.lit("region:"), F.col("r_regionkey") - 1).alias("o"),
                F.lit(G).alias("g"),
            )
        )
        .unionByName(
            lit(
                [
                    ("lives_in", "rdfs:subPropertyOf", "located_in", G),
                    ("located_in", "rdfs:domain", "class:Person", G),
                    ("located_in", "rdfs:range", "class:Place", G),
                ]
            )
        )
    )
    derived, _ = infer_df(spark, quads, rdfs_rules())
    return derived


RDFS_CLOSURE_SQL = """
    WITH RECURSIVE chain AS (
      SELECT 'nation:' || n_nationkey AS sub, 'region:' || n_regionkey AS sup
      FROM nation
      UNION ALL
      SELECT 'region:' || r_regionkey, 'region:' || (r_regionkey - 1)
      FROM region WHERE r_regionkey >= 1
    ),
    clos AS (
      SELECT sub, sup FROM chain
      UNION
      SELECT c.sub, ch.sup FROM clos c JOIN chain ch ON c.sup = ch.sub
    ),
    cust AS (
      SELECT 'cust:' || c_custkey AS cid, 'nation:' || c_nationkey AS nid
      FROM customer
    )
    SELECT sub AS s, 'rdfs:subClassOf' AS p, sup AS o, 'graph://rdfs' AS g
    FROM (SELECT sub, sup FROM clos EXCEPT SELECT sub, sup FROM chain)
    UNION ALL
    SELECT c.cid, 'rdf:type', cl.sup, 'graph://rdfs'
    FROM cust c JOIN clos cl ON cl.sub = c.nid
    UNION ALL
    SELECT cid, 'located_in', nid, 'graph://rdfs' FROM cust
    UNION ALL
    SELECT cid, 'rdf:type', 'class:Person', 'graph://rdfs' FROM cust
    UNION ALL
    SELECT DISTINCT nid, 'rdf:type', 'class:Place', 'graph://rdfs' FROM cust
"""


def _q_owl_property_closure(spark, sf_dir):
    """OWL-RL property-characteristic rules as DATA: 'parent' is declared
    owl:TransitiveProperty and owl:inverseOf 'child' in-graph, and the
    generic ruleset (rify_spark/rulesets.py) closes the customer tree —
    transitive parent closure plus the full inverse child relation —
    without any per-predicate rule authoring. Oracle: recursive DuckDB
    closure + its inverse."""
    from rify_spark.api import infer_df
    from rify_spark.ops.quads import TREE_G, tree_edges
    from rify_spark.rulesets import owl_property_rules

    decls = spark.createDataFrame(
        [
            ("parent", "rdf:type", "owl:TransitiveProperty", TREE_G),
            ("parent", "owl:inverseOf", "child", TREE_G),
        ],
        "s string, p string, o string, g string",
    )
    quads = tree_edges(spark, sf_dir).unionByName(decls)
    derived, _ = infer_df(spark, quads, owl_property_rules())
    return derived


def _owl_property_closure_sql() -> str:
    from rify_spark.ops.quads import TREE_G

    return f"""
    WITH RECURSIVE edge AS (
      SELECT c_custkey AS ch, c_custkey // 2 AS par
      FROM customer WHERE c_custkey >= 1
    ),
    clos AS (
      SELECT ch, par FROM edge
      UNION
      SELECT a.ch, e.par FROM clos a JOIN edge e ON a.par = e.ch
    )
    SELECT 'node:' || ch AS s, 'parent' AS p, 'node:' || par AS o,
           '{TREE_G}' AS g
    FROM (SELECT ch, par FROM clos EXCEPT SELECT ch, par FROM edge)
    UNION ALL
    SELECT 'node:' || par, 'child', 'node:' || ch, '{TREE_G}' FROM clos
    """


def _q_streaming_incremental(spark, sf_dir):
    """Streaming IVM == one-shot closure: feed the customer tree to the
    incremental reasoner in two overlapping micro-batches (process_batch is
    the foreachBatch body, called directly for determinism) and return the
    derived quads. The live FactStore carries state across the batches;
    batch 2's duplicates exercise the novelty anti-join. Oracle: the SAME
    DuckDB WITH RECURSIVE closure as o11 — incremental maintenance must
    land on the identical fixpoint."""
    _ship(spark)
    import tempfile

    from rify_spark.ops.quads import tree_edges
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.streaming import IncrementalReasoner

    edges = tree_edges(spark, sf_dir)
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("ancestor"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("ancestor"), U("b"), U("g")],
                [U("b"), B("ancestor"), U("c"), U("g")]],
            [[U("a"), B("ancestor"), U("c"), U("g")]],
        ),
    ]
    store = tempfile.mkdtemp(prefix="rify_inc_gate_") + "/facts"
    r = IncrementalReasoner(spark, rules, store)
    r.process_batch(edges.filter(F.xxhash64("s") % 2 == 0), 0)
    r.process_batch(edges, 1)  # includes batch-1 rows again (dup arrivals)
    return r.facts().join(edges, ["s", "p", "o", "g"], "left_anti")


def _q_streaming_retract(spark, sf_dir):
    """Retraction (DRed): insert the customer tree PLUS direct 'ancestor'
    shortcut premises (custkey % 3 == 0), then retract every parent edge
    with custkey % 4 == 0 and return the maintained 'ancestor' relation.
    The retract set deliberately mixes (a) edges whose whole ancestor cone
    must disappear and (b) edges shadowed by a surviving shortcut premise,
    so over-delete, premise re-seed and transitive re-derivation all fire.
    Oracle: DuckDB WITH RECURSIVE over exactly the surviving premise set —
    incremental deletion must land on the from-scratch fixpoint."""
    _ship(spark)
    import tempfile

    from rify_spark.ops.quads import TREE_G, tree_edges
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.streaming import IncrementalReasoner

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_custkey") >= 1
    )
    edges = tree_edges(spark, sf_dir)
    shortcuts = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.concat(F.lit("node:"), F.col("c_custkey")).alias("s"),
        F.lit("ancestor").alias("p"),
        F.concat(
            F.lit("node:"), F.floor(F.col("c_custkey") / 2).cast("long")
        ).alias("o"),
        F.lit(TREE_G).alias("g"),
    )
    retract = edges.join(
        cust.filter(F.col("c_custkey") % 4 == 0).select(
            F.concat(F.lit("node:"), F.col("c_custkey")).alias("s")
        ),
        "s",
        "left_semi",
    )
    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("ancestor"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("ancestor"), U("b"), U("g")],
                [U("b"), B("ancestor"), U("c"), U("g")]],
            [[U("a"), B("ancestor"), U("c"), U("g")]],
        ),
    ]
    store = tempfile.mkdtemp(prefix="rify_retract_gate_") + "/facts"
    r = IncrementalReasoner(spark, rules, store)
    r.process_batch(edges.unionByName(shortcuts), 0)
    r.retract_batch(retract)
    return r.facts().filter(F.col("p") == "ancestor")


RETRACT_CLOSURE_SQL = """
  WITH RECURSIVE base AS (
    SELECT c_custkey AS child, c_custkey // 2 AS par
    FROM customer WHERE c_custkey >= 1 AND c_custkey % 4 <> 0
    UNION
    SELECT c_custkey, c_custkey // 2
    FROM customer WHERE c_custkey >= 1 AND c_custkey % 3 = 0
  ),
  anc AS (
    SELECT child, par AS anc FROM base
    UNION
    SELECT a.child, b.par AS anc FROM anc a JOIN base b ON a.anc = b.child
  )
  SELECT 'node:' || child AS s, 'ancestor' AS p, 'node:' || anc AS o,
         'graph://tree' AS g
  FROM anc
"""


def _q_graph_vertices(spark, sf_dir):
    from rify_spark.ops.graph import graph_vertices

    return graph_vertices(spark, sf_dir)


def _q_graph_pagerank(spark, sf_dir):
    from rify_spark.ops.graph import graph_pagerank

    return graph_pagerank(spark, sf_dir)


def _q_graph_triangles(spark, sf_dir):
    from rify_spark.ops.graph import graph_triangles

    return graph_triangles(spark, sf_dir)


def _q_sparql_bgp(spark, sf_dir):
    from rify_spark.sparql import sparql_bgp

    return sparql_bgp(spark, sf_dir)


def _q_sparql_modifiers(spark, sf_dir):
    from rify_spark.sparql import sparql_modifiers

    return sparql_modifiers(spark, sf_dir)


def _q_sparql_construct(spark, sf_dir):
    from rify_spark.sparql import sparql_construct_gate

    return sparql_construct_gate(spark, sf_dir)


def _q_sparql_optional(spark, sf_dir):
    from rify_spark.sparql import sparql_optional_gate

    return sparql_optional_gate(spark, sf_dir)


def _q_sparql_union(spark, sf_dir):
    from rify_spark.sparql import sparql_union_gate

    return sparql_union_gate(spark, sf_dir)


def _q_sparql_not_exists(spark, sf_dir):
    from rify_spark.sparql import sparql_not_exists_gate

    return sparql_not_exists_gate(spark, sf_dir)


def _q_sparql_exists_expr(spark, sf_dir):
    from rify_spark.sparql import sparql_exists_expr_gate

    return sparql_exists_expr_gate(spark, sf_dir)


def _q_sparql_exists_compat(spark, sf_dir):
    from rify_spark.sparql import sparql_exists_compat_gate

    return sparql_exists_compat_gate(spark, sf_dir)


def _q_sparql_trailing_values(spark, sf_dir):
    from rify_spark.sparql import sparql_trailing_values_gate

    return sparql_trailing_values_gate(spark, sf_dir)


def _q_sparql_agg_arith(spark, sf_dir):
    from rify_spark.sparql import sparql_agg_arith_gate

    return sparql_agg_arith_gate(spark, sf_dir)


def _q_sparql_having_expr(spark, sf_dir):
    from rify_spark.sparql import sparql_having_expr_gate

    return sparql_having_expr_gate(spark, sf_dir)


def _q_sparql_path(spark, sf_dir):
    from rify_spark.sparql import sparql_path_gate

    return sparql_path_gate(spark, sf_dir)


def _q_sparql_path_expr(spark, sf_dir):
    from rify_spark.sparql import sparql_path_expr_gate

    return sparql_path_expr_gate(spark, sf_dir)


def _q_sparql_path_star(spark, sf_dir):
    from rify_spark.sparql import sparql_path_star_gate

    return sparql_path_star_gate(spark, sf_dir)


def _q_sparql_agg_concat(spark, sf_dir):
    from rify_spark.sparql import sparql_agg_concat_gate

    return sparql_agg_concat_gate(spark, sf_dir)


def _q_sparql_numeric_filter(spark, sf_dir):
    from rify_spark.sparql import sparql_numeric_filter_gate

    return sparql_numeric_filter_gate(spark, sf_dir)


def _q_sparql_entailed(spark, sf_dir):
    from rify_spark.sparql import sparql_entailed_gate

    return sparql_entailed_gate(spark, sf_dir)


def _q_sparql_compat_join(spark, sf_dir):
    from rify_spark.sparql import sparql_compat_join_gate

    return sparql_compat_join_gate(spark, sf_dir)


def _q_sparql_subquery(spark, sf_dir):
    from rify_spark.sparql import sparql_subquery_gate

    return sparql_subquery_gate(spark, sf_dir)


def _q_sparql_agg_count(spark, sf_dir):
    from rify_spark.sparql import sparql_agg_count_gate

    return sparql_agg_count_gate(spark, sf_dir)


def _q_sparql_agg_sum(spark, sf_dir):
    from rify_spark.sparql import sparql_agg_sum_gate

    return sparql_agg_sum_gate(spark, sf_dir)


def _q_sparql_bind(spark, sf_dir):
    from rify_spark.sparql import sparql_bind_gate

    return sparql_bind_gate(spark, sf_dir)


def _q_sparql_describe(spark, sf_dir):
    from rify_spark.sparql import sparql_describe_gate

    return sparql_describe_gate(spark, sf_dir)


def _q_sparql_filter_compound(spark, sf_dir):
    from rify_spark.sparql import sparql_filter_compound_gate

    return sparql_filter_compound_gate(spark, sf_dir)


def _q_sparql_scalar_funcs(spark, sf_dir):
    from rify_spark.sparql import sparql_scalar_funcs_gate

    return sparql_scalar_funcs_gate(spark, sf_dir)


def _q_sparql_optional_cond(spark, sf_dir):
    from rify_spark.sparql import sparql_optional_cond_gate

    return sparql_optional_cond_gate(spark, sf_dir)


def _q_sparql_term_funcs(spark, sf_dir):
    from rify_spark.sparql import sparql_term_funcs_gate

    return sparql_term_funcs_gate(spark, sf_dir)


def _q_sparql_datetime(spark, sf_dir):
    from rify_spark.sparql import sparql_datetime_gate

    return sparql_datetime_gate(spark, sf_dir)


def _q_sparql_construct_where(spark, sf_dir):
    from rify_spark.sparql import sparql_construct_where_gate

    return sparql_construct_where_gate(spark, sf_dir)


def _q_sparql_literal_terms(spark, sf_dir):
    from rify_spark.sparql import sparql_literal_terms_gate

    return sparql_literal_terms_gate(spark, sf_dir)


def _q_sparql_numeric_funcs(spark, sf_dir):
    from rify_spark.sparql import sparql_numeric_funcs_gate

    return sparql_numeric_funcs_gate(spark, sf_dir)


def _q_sparql_nps(spark, sf_dir):
    from rify_spark.sparql import sparql_nps_gate

    return sparql_nps_gate(spark, sf_dir)


def _q_sparql_avg(spark, sf_dir):
    from rify_spark.sparql import sparql_avg_gate

    return sparql_avg_gate(spark, sf_dir)


def _q_sparql_update(spark, sf_dir):
    from rify_spark.update import sparql_update_gate

    return sparql_update_gate(spark, sf_dir)


def _q_sparql_update_with(spark, sf_dir):
    from rify_spark.update import sparql_update_with_gate

    return sparql_update_with_gate(spark, sf_dir)


def _q_sparql_update_load(spark, sf_dir):
    from rify_spark.update import sparql_update_load_gate

    return sparql_update_load_gate(spark, sf_dir)


def _q_graph_bfs(spark, sf_dir):
    from rify_spark.ops.graph import graph_bfs_levels

    return graph_bfs_levels(spark, sf_dir)


def _q_graph_sssp(spark, sf_dir):
    from rify_spark.ops.graph import graph_sssp

    return graph_sssp(spark, sf_dir)


def _q_graph_components(spark, sf_dir):
    from rify_spark.ops.graph import graph_components

    return graph_components(spark, sf_dir)


def _q_graph_kcore(spark, sf_dir):
    from rify_spark.ops.graph import graph_kcore

    return graph_kcore(spark, sf_dir)


def _q_graph_degree_histogram(spark, sf_dir):
    from rify_spark.ops.graph import graph_degree_histogram

    return graph_degree_histogram(spark, sf_dir)


def _q_rdf_trig_format(spark, sf_dir):
    from rify_spark.rdf import rdf_trig_format

    return rdf_trig_format(spark, sf_dir)


def _q_rdf_trig_roundtrip(spark, sf_dir):
    from rify_spark.rdf import rdf_trig_roundtrip

    return rdf_trig_roundtrip(spark, sf_dir)


def _q_sparql_describe_cbd(spark, sf_dir):
    from rify_spark.sparql import sparql_describe_cbd_gate

    return sparql_describe_cbd_gate(spark, sf_dir)


def _q_prove_provenance(spark, sf_dir):
    """Proof lineage reified as RDF (prove.lineage_to_quads) and
    aggregated with the engine's own SPARQL layer — derivation counts
    per (rule, iteration); oracle: the o13 recursive attribution
    aggregated the same way."""
    from rify_spark.prove import lineage_to_quads
    from rify_spark.sparql import sparql_select

    quads = lineage_to_quads(_q_prove_lineage(spark, sf_dir))
    return sparql_select(
        quads,
        """
        SELECT ?rule ?iter (COUNT(*) AS ?n) WHERE {
          GRAPH <graph://prov> {
            ?d <by_rule> ?rule . ?d <at_iteration> ?iter
          }
        } GROUP BY ?rule ?iter
        """,
    )


def _q_sparql_service(spark, sf_dir):
    from rify_spark.sparql import sparql_service_gate

    return sparql_service_gate(spark, sf_dir)


def _q_sparql_ndet(spark, sf_dir):
    from rify_spark.sparql import sparql_ndet_gate

    return sparql_ndet_gate(spark, sf_dir)


def _q_sparql_update_bnodes(spark, sf_dir):
    from rify_spark.update import sparql_update_bnode_gate

    return sparql_update_bnode_gate(spark, sf_dir)


def _q_sparql_agg_expr(spark, sf_dir):
    from rify_spark.sparql import sparql_agg_expr_gate

    return sparql_agg_expr_gate(spark, sf_dir)


def _q_sparql_order_expr(spark, sf_dir):
    from rify_spark.sparql import sparql_order_expr_gate

    return sparql_order_expr_gate(spark, sf_dir)


def _q_sparql_group_expr(spark, sf_dir):
    from rify_spark.sparql import sparql_group_expr_gate

    return sparql_group_expr_gate(spark, sf_dir)


def _q_sparql_dataset(spark, sf_dir):
    from rify_spark.sparql import sparql_dataset_gate

    return sparql_dataset_gate(spark, sf_dir)


def _q_sparql_construct_bnode(spark, sf_dir):
    from rify_spark.sparql import sparql_construct_bnode_gate

    return sparql_construct_bnode_gate(spark, sf_dir)


def _q_sparql_construct_skip(spark, sf_dir):
    from rify_spark.sparql import sparql_construct_skip_gate

    return sparql_construct_skip_gate(spark, sf_dir)


def _q_rdf_parse(spark, sf_dir):
    from rify_spark.rdf import rdf_nquads_parse

    return rdf_nquads_parse(spark, sf_dir)


def _q_rdf_roundtrip(spark, sf_dir):
    from rify_spark.rdf import rdf_nquads_roundtrip

    return rdf_nquads_roundtrip(spark, sf_dir)


def _q_multimodal(spark, sf_dir):
    _ship(spark)
    from rify_spark.ops.multimodal import extract_media_features, fake_media_df

    return extract_media_features(fake_media_df(_docs(spark, sf_dir)))


def _q_multimodal_codec(spark, sf_dir):
    _ship(spark)
    from rify_spark.ops.multimodal import media_codec_features

    return media_codec_features(_docs(spark, sf_dir))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rify_spark.ops import (
        decon, dedup, events, quads, sample, similarity, snapshot, text,
    )

    def _events(s_, d_):
        return s_.read.parquet(f"{d_}/events.parquet")

    q = {
        # engine operators (SURVEY.md §2)
        "o1_dict_build": quads.dict_build,
        "o2_encode": quads.encode,
        "o3_decode": quads.decode_roundtrip,
        "o4_insert_dedup": quads.insert_dedup,
        "o5_membership": quads.membership,
        "o6_pattern_scan": quads.pattern_scan,
        "o7_conjunctive_match": quads.conjunctive_match,
        "o8_join_order": quads.join_order,
        "o9_delta_round": quads.delta_round,
        "o10_head_projection": quads.head_projection,
        "o11_ancestry_fixpoint": _q_ancestry,
        "o12_seed_unconditional": quads.seed_unconditional,
        "o13_prove_lineage": _q_prove_lineage,
        "o14_proof_extract": quads.proof_extract,
        "o15_proof_raise": quads.proof_raise,
        "o16_validate_roundtrip": _q_validate_roundtrip,
        "o17_rule_lowering": quads.rule_lowering,
        "o18_rule_validation": quads.rule_validation,
        # a 1024-link chain closure written as the O(depth) linear rule,
        # closed in O(log depth) rounds by smart TC (tc.py; the query
        # raises unless a smart-TC round ran)
        "o19_linear_chain_rewrite": quads.linear_chain_closure,
        # skew: hot-key-salted shuffle joins through the whole fixpoint
        "skew_salted_closure": quads.skew_salted_closure,
        # streaming IVM: two-micro-batch incremental closure == one-shot
        "streaming_incremental_closure": _q_streaming_incremental,
        # retraction (DRed): delete premises, re-derive survivors — final
        # state must equal the from-scratch closure over what remains
        "streaming_retract_closure": _q_streaming_retract,
        # shipped RDFS ruleset over the TPC-H hierarchy
        "rdfs_closure": _q_rdfs_closure,
        # OWL property characteristics declared as data
        "owl_property_closure": _q_owl_property_closure,
        # graph materialize (north-rule final stage): vertex/degree table
        "kg_graph_vertices": _q_graph_vertices,
        "kg_store_stats": quads.kg_store_stats,
        # graph analytics over the materialized KG: integer-exact PageRank
        # and degree-oriented triangle counts (bit-identical DuckDB twins)
        "kg_graph_pagerank": _q_graph_pagerank,
        "kg_graph_triangles": _q_graph_triangles,
        # N-Quads line-format ingest (the reference's [s,p,o,g] wire shape
        # on disk): grammar fixture + serialize/parse round trip
        "rdf_nquads_parse": _q_rdf_parse,
        "rdf_nquads_roundtrip": _q_rdf_roundtrip,
        # SPARQL SELECT front-end compiled onto the rule matcher's join
        # chain: 2-hop BGP w/ GRAPH+FILTER, and ';'-block with DISTINCT/
        # ORDER BY/LIMIT modifiers
        "sparql_bgp": _q_sparql_bgp,
        "sparql_modifiers": _q_sparql_modifiers,
        # CONSTRUCT = one-shot rule application (template instantiated by
        # the fixpoint's own head projection) into a named graph
        "sparql_construct": _q_sparql_construct,
        # group algebra: OPTIONAL (left join) and UNION (padded bag union)
        "sparql_optional": _q_sparql_optional,
        "sparql_union": _q_sparql_union,
        # negation: FILTER NOT EXISTS compiled to an anti join
        "sparql_not_exists": _q_sparql_not_exists,
        # EXISTS as a boolean operand inside a FILTER expression tree
        "sparql_exists_expr": _q_sparql_exists_expr,
        "sparql_exists_compat": _q_sparql_exists_compat,
        # query-final VALUES clause joined after aggregation (§18.2.4.2)
        "sparql_trailing_values": _q_sparql_trailing_values,
        # aggregates as operands of projection expressions (§18.2.4.1)
        "sparql_agg_arith": _q_sparql_agg_arith,
        # general HAVING constraint trees (agg-vs-agg, group keys, ||/!)
        "sparql_having_expr": _q_sparql_having_expr,
        # property path <p>+ executed by the engine's smart-TC fixpoint
        "sparql_path": _q_sparql_path,
        # path expressions: ^/sequence composition (pure join chain) and
        # the zero-or-more closure with its zero-length identity
        "sparql_path_expr": _q_sparql_path_expr,
        "sparql_path_star": _q_sparql_path_star,
        # aggregates: GROUP BY + COUNT/COUNT DISTINCT through an OPTIONAL
        # (one partial-aggregating shuffle), and SUM/MIN/MAX over integer
        # lexemes with a hidden HAVING aggregate
        "sparql_agg_count": _q_sparql_agg_count,
        "sparql_agg_sum": _q_sparql_agg_sum,
        # sorted GROUP_CONCAT + deterministic SAMPLE; numeric try_cast FILTER
        "sparql_agg_concat": _q_sparql_agg_concat,
        "sparql_numeric_filter": _q_sparql_numeric_filter,
        # subquery: aggregate bottom-up, join in the enclosing group
        "sparql_subquery": _q_sparql_subquery,
        # entailment regime: SPARQL aggregate over infer_df's closure
        "sparql_entailed": _q_sparql_entailed,
        # compatible-mappings join on a possibly-unbound (partial-UNION)
        # variable — null-split decomposition keeps the bound mass equi
        "sparql_compat_join": _q_sparql_compat_join,
        # BIND + expression algebra: CONCAT / integer arithmetic over
        # lexemes / STRLEN SELECT item, numeric FILTER on the BIND target
        "sparql_bind": _q_sparql_bind,
        # DESCRIBE: one-hop forward description (distinct resource set
        # left_semi-joined against the store on the subject slot)
        "sparql_describe": _q_sparql_describe,
        # compound FILTER: IN/NOT IN, boolean parens, !() negation,
        # blank-node joins ([] and _:r as nondistinguished variables)
        "sparql_filter_compound": _q_sparql_filter_compound,
        # scalar built-ins: STRBEFORE/STRAFTER/REPLACE/MD5/IF
        "sparql_scalar_funcs": _q_sparql_scalar_funcs,
        # numeric built-ins: ABS over the integer-lexeme model
        "sparql_numeric_funcs": _q_sparql_numeric_funcs,
        # OPTIONAL filter over an outer var = the LeftJoin condition
        "sparql_optional_cond": _q_sparql_optional_cond,
        # term-kind built-ins (isIRI/LANG/DATATYPE/...) + '*' arithmetic
        "sparql_term_funcs": _q_sparql_term_funcs,
        "sparql_datetime": _q_sparql_datetime,
        # RDF literal term grammar (lang/typed/numeric constants) + BASE
        "sparql_literal_terms": _q_sparql_literal_terms,
        # CONSTRUCT WHERE shorthand (template == pattern)
        "sparql_construct_where": _q_sparql_construct_where,
        # negated property sets !(p | ^q)
        "sparql_nps": _q_sparql_nps,
        # AVG aggregate (double output, cross-engine deterministic)
        "sparql_avg": _q_sparql_avg,
        # SPARQL UPDATE: modify + INSERT DATA + DELETE WHERE sequence
        "sparql_update": _q_sparql_update,
        # WITH / USING dataset clauses on the modify form
        "sparql_update_with": _q_sparql_update_with,
        # LOAD through the distributed N-Quads reader
        "sparql_update_load": _q_sparql_update_load,
        # blank nodes in INSERT DATA / INSERT templates (fresh mints)
        "sparql_update_bnodes": _q_sparql_update_bnodes,
        # BNODE()/UUID()/STRUUID()/NOW() deterministic generators
        "sparql_ndet": _q_sparql_ndet,
        # DESCRIBE with Concise-Bounded-Description bnode closure
        "sparql_describe_cbd": _q_sparql_describe_cbd,
        # SERVICE local federation across registered quad stores
        "sparql_service": _q_sparql_service,
        # lineage reified as RDF, provenance-aggregated via SPARQL
        "prove_provenance": _q_prove_provenance,
        # frontier BFS hop distances (semi-naive, recursive-CTE oracle)
        "graph_bfs_levels": _q_graph_bfs,
        # weighted shortest paths (integer min-plus Bellman-Ford)
        "graph_sssp": _q_graph_sssp,
        # undirected connected components (min-label + edge consistency)
        "graph_components": _q_graph_components,
        "graph_kcore": _q_graph_kcore,
        "graph_degree_histogram": _q_graph_degree_histogram,
        # subject-grouped TriG serialization (one-shuffle distributed writer)
        "rdf_trig_format": _q_rdf_trig_format,
        # TriG write -> distributed subset reader -> exact quad set
        "rdf_trig_roundtrip": _q_rdf_trig_roundtrip,
        # CONSTRUCT-template blank nodes (fresh per solution)
        "sparql_construct_bnode": _q_sparql_construct_bnode,
        "sparql_construct_skip": _q_sparql_construct_skip,
        # aggregate arguments as scalar expressions (SUM/COUNT-DISTINCT/MIN)
        "sparql_agg_expr": _q_sparql_agg_expr,
        # ORDER BY expression keys (numeric top-k with tie-break)
        "sparql_order_expr": _q_sparql_order_expr,
        # GROUP BY (expr AS ?alias) keys
        "sparql_group_expr": _q_sparql_group_expr,
        # FROM / FROM NAMED dataset clauses
        "sparql_dataset": _q_sparql_dataset,
        # KG construction
        "kg_extract_mentions": _q_kg_mentions,
        "kg_pipeline_derived": _q_kg_pipeline,
        # training-data ops: text analysis
        "text_token_count": lambda s, d: text.token_count(_docs(s, d)),
        "text_quality": lambda s, d: text.quality_score(_docs(s, d)),
        "text_lang_id": lambda s, d: text.lang_id(_docs(s, d)),
        "text_fingerprint": lambda s, d: text.fingerprint(_docs(s, d)),
        "text_redact_pii": lambda s, d: text.redact_pii(_docs(s, d)),
        "text_repetition": lambda s, d: text.repetition(_docs(s, d)),
        "text_top_ngrams": lambda s, d: text.top_ngrams(_docs(s, d)),
        "text_tfidf": lambda s, d: text.tfidf_top_terms(_docs(s, d)),
        # training-sequence prep: overlapping token-window chunking
        "docs_chunk": lambda s, d: text.chunk_docs(_docs(s, d)),
        # concat-then-chunk sequence packing offsets (one window shuffle)
        "docs_pack": lambda s, d: text.pack_offsets(_docs(s, d)),
        # deduplication
        "dedup_exact": lambda s, d: dedup.exact_dedup(_docs(s, d)),
        "dedup_minhash": lambda s, d: dedup.minhash_signatures(_docs(s, d)),
        "dedup_lsh_pairs": lambda s, d: dedup.lsh_candidate_pairs(_docs(s, d)),
        "dedup_lsh_recall": lambda s, d: dedup.lsh_planted_recall(_docs(s, d)),
        "dedup_embedding_pairs": lambda s, d: dedup.embedding_neardup_pairs(_emb(s, d)),
        "dedup_embedding_recall": lambda s, d: dedup.embedding_neardup_recall(
            _emb(s, d)
        ),
        "dedup_clusters": lambda s, d: dedup.neardup_clusters(_docs(s, d)),
        "docs_keep": lambda s, d: dedup.docs_keep(_docs(s, d)),
        # versioned-corpus as-of snapshot (latest commit per file)
        "corpus_snapshot": snapshot.corpus_snapshot,
        # snapshot-to-snapshot change set (incremental-maintenance feed)
        "corpus_diff": snapshot.corpus_diff_gate,
        "docs_sample_stratified": lambda s, d: sample.docs_sample_stratified(
            _docs(s, d)
        ),
        # reproducible global training-data shuffle (distributed rank)
        "docs_shuffle_rank": lambda s, d: sample.docs_shuffle_rank(
            _docs(s, d)
        ),
        # benchmark decontamination: n-gram overlap vs the derived eval set
        "docs_decontaminate": lambda s, d: decon.decontaminate(_docs(s, d)),
        "dedup_simhash": lambda s, d: dedup.simhash(_docs(s, d)),
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(_docs(s, d)),
        "dedup_ngram_lsh_verify": lambda s, d: dedup.ngram_jaccard_verify_lsh(
            _docs(s, d)
        ),
        # similarity search
        "knn_bruteforce": lambda s, d: similarity.knn_bruteforce(_emb(s, d)),
        "knn_lsh_buckets": lambda s, d: similarity.knn_lsh_buckets(_emb(s, d)),
        "knn_lsh": lambda s, d: similarity.knn_lsh(_emb(s, d)),
        "knn_ivf_cells": lambda s, d: similarity.knn_ivf_cells(_emb(s, d)),
        "knn_ivf": lambda s, d: similarity.knn_ivf(_emb(s, d)),
        "knn_ivf_recall": lambda s, d: similarity.knn_ivf_recall(_emb(s, d)),
        "knn_ivf_refined_recall": lambda s, d: similarity.knn_ivf_refined_recall(
            _emb(s, d)
        ),
        "knn_lsh_recall": lambda s, d: similarity.knn_lsh_recall(_emb(s, d)),
        # int8 scalar quantization (compressed-candidate ANN path)
        "emb_sq8_codes": lambda s, d: similarity.emb_sq8_codes(_emb(s, d)),
        "knn_sq8_recall": lambda s, d: similarity.knn_sq8_recall(_emb(s, d)),
        "knn_sq8_refined_recall": lambda s, d: similarity.knn_sq8_refined_recall(
            _emb(s, d)
        ),
        # event windows / sessionization (batch forms)
        "events_windowed": lambda s, d: events.windowed_counts(_events(s, d)),
        "events_sliding": lambda s, d: events.sliding_counts(_events(s, d)),
        "events_sessionize": lambda s, d: events.sessionize(_events(s, d)),
        # multimodal plumbing
        "multimodal_features": _q_multimodal,
        "multimodal_codec": _q_multimodal_codec,
    }
    # The driver's correctness sample is the FIRST 50 dict keys, so order
    # one representative of every operator family up front (round-5 ask
    # #4: CORRECTNESS_r05 sampled only engine ops + early SPARQL gates —
    # dedup/text/knn/graph-analytics/UPDATE got zero driver-side
    # verification). Pure dict insertion order: no query is renamed,
    # removed, or changed, and every oracle stays byte-identical.
    first = [
        # §2 engine operators + strategy layer
        "o1_dict_build", "o2_encode", "o3_decode", "o4_insert_dedup",
        "o5_membership", "o6_pattern_scan", "o7_conjunctive_match",
        "o8_join_order", "o9_delta_round", "o10_head_projection",
        "o11_ancestry_fixpoint", "o12_seed_unconditional",
        "o13_prove_lineage", "o14_proof_extract", "o15_proof_raise",
        "o16_validate_roundtrip", "o17_rule_lowering",
        "o18_rule_validation", "o19_linear_chain_rewrite",
        "skew_salted_closure",
        # streaming / rulesets
        "streaming_incremental_closure", "streaming_retract_closure",
        "rdfs_closure",
        # graph materialize + analytics over the KG
        "kg_graph_vertices", "kg_graph_pagerank",
        # RDF formats (N-Quads + TriG round trips)
        "rdf_nquads_roundtrip", "rdf_trig_roundtrip",
        # KG pipeline end-to-end
        "kg_pipeline_derived",
        # text family
        "text_quality", "text_tfidf", "docs_chunk", "docs_pack",
        # dedup family
        "dedup_minhash", "dedup_lsh_pairs", "dedup_clusters",
        "dedup_ngram_jaccard",
        # similarity family (exact, LSH, compressed SQ8)
        "knn_bruteforce", "knn_lsh", "knn_sq8_refined_recall",
        # events / multimodal
        "events_sessionize", "multimodal_codec",
        # graph analytics (frontier BFS, k-core peeling)
        "graph_bfs_levels", "graph_kcore",
        # snapshot / diff / sample
        "corpus_snapshot", "corpus_diff", "docs_shuffle_rank",
        # SPARQL query / aggregate / UPDATE / SERVICE
        "sparql_bgp", "sparql_agg_count", "sparql_update",
        "sparql_service",
    ]
    out = {k: q[k] for k in first}
    out.update({k: v for k, v in q.items() if k not in out})
    return out


# Literal oracle for the prove->validate round trip: the implied set of the
# Explicit Ethos fixture is pinned by the reference
# (/root/reference/bindings/js_wasm/binding_tests/test.js:93-146 — same
# fixture asserted end-to-end in tests/test_prove.py) and consists of the
# three rule-application heads not among the assumed facts.
VALIDATE_ROUNDTRIP_SQL = """
    SELECT * FROM (VALUES
      ('bobert', 'mayPurchase', 'vso:Vehicle', 'default_graph'),
      ('root_authority', 'claims', '_:1', 'default_graph'),
      ('root_authority', 'defersTo', 'issuer', 'default_graph')
    ) AS t(s, p, o, g)
"""

# Closed-form oracle for the end-to-end KG pipeline over the deterministic
# synthetic corpus (3 repos x 4 modules, rify_spark/extract/synthetic.py):
# module m imports/calls into module m-1, so per-repo depends_on closes to
# all ordered module pairs a >= b (sibling calls add the self edges); every
# module transitively reaches the unresolved 'mod://os' import; repos r > 0
# reach the unresolved cross-repo 'mod://repo_{r-1}.mod_0' mention through
# module 0 (its link score is 0 < threshold, so it never canonicalizes).
KG_PIPELINE_SQL = """
    WITH mods AS (
      SELECT r.range AS r, m.range AS m,
             'repo://repo_' || r.range || '/src/mod_' || m.range || '.py' AS iri,
             'graph://repo_' || r.range AS g
      FROM range(3) r, range(4) m
    )
    SELECT a.iri AS s, 'depends_on' AS p, b.iri AS o, a.g AS g
    FROM mods a JOIN mods b ON a.r = b.r AND a.m >= b.m
    UNION ALL
    SELECT iri AS s, 'depends_on' AS p, 'mod://os' AS o, g FROM mods
    UNION ALL
    SELECT iri AS s, 'depends_on' AS p, 'mod://repo_' || (r - 1) || '.mod_0' AS o, g
    FROM mods WHERE r > 0
"""


def _sparql_sql(fn_name: str) -> str:
    from rify_spark import sparql as sparql_mod

    return getattr(sparql_mod, fn_name)()


def _rdf_sql(fn_name: str) -> str:
    from rify_spark import rdf as rdf_mod

    return getattr(rdf_mod, fn_name)()


def _update_sql() -> str:
    from rify_spark.update import sparql_update_sql

    return sparql_update_sql()


def _update_with_sql() -> str:
    from rify_spark.update import sparql_update_with_sql

    return sparql_update_with_sql()


def _update_load_sql() -> str:
    from rify_spark.update import sparql_update_load_sql

    return sparql_update_load_sql()


def _update_bnode_sql() -> str:
    from rify_spark.update import sparql_update_bnode_sql

    return sparql_update_bnode_sql()


def _rdf_parse_fixture_sql() -> str:
    from rify_spark.rdf import PARSE_FIXTURE_SQL

    return PARSE_FIXTURE_SQL


def _rdf_roundtrip_sql() -> str:
    from rify_spark.rdf import rdf_nquads_roundtrip_sql

    return rdf_nquads_roundtrip_sql()


def oracle_sql() -> dict[str, str]:
    from rify_spark.ops import (
        decon, dedup, events, graph, multimodal, quads, sample, similarity,
        snapshot, text,
    )

    return {
        "o1_dict_build": quads.DICT_BUILD_SQL,
        "o2_encode": quads.ENCODE_SQL,
        "o3_decode": quads.DECODE_ROUNDTRIP_SQL,
        "o4_insert_dedup": quads.INSERT_DEDUP_SQL,
        "o5_membership": quads.MEMBERSHIP_SQL,
        "o6_pattern_scan": quads.PATTERN_SCAN_SQL,
        "o7_conjunctive_match": quads.CONJUNCTIVE_MATCH_SQL,
        "o8_join_order": quads.JOIN_ORDER_SQL,
        "o9_delta_round": quads.DELTA_ROUND_SQL,
        "o10_head_projection": quads.HEAD_PROJECTION_SQL,
        "o11_ancestry_fixpoint": quads.ANCESTRY_CLOSURE_SQL,
        "o12_seed_unconditional": quads.SEED_UNCONDITIONAL_SQL,
        "o13_prove_lineage": quads.PROVE_LINEAGE_SQL,
        "o14_proof_extract": quads.PROOF_SQL,
        "o15_proof_raise": quads.PROOF_SQL,
        "o16_validate_roundtrip": VALIDATE_ROUNDTRIP_SQL,
        "o17_rule_lowering": quads.RULE_LOWERING_SQL,
        "o18_rule_validation": quads.RULE_VALIDATION_SQL,
        "o19_linear_chain_rewrite": quads.LINEAR_CHAIN_SQL,
        "skew_salted_closure": quads.SKEW_SALTED_CLOSURE_SQL,
        "streaming_incremental_closure": quads.ANCESTRY_CLOSURE_SQL,
        "streaming_retract_closure": RETRACT_CLOSURE_SQL,
        "rdfs_closure": RDFS_CLOSURE_SQL,
        "owl_property_closure": _owl_property_closure_sql(),
        "kg_graph_vertices": graph.graph_vertices_sql(),
        "kg_store_stats": quads.KG_STORE_STATS_SQL,
        "kg_graph_pagerank": graph.graph_pagerank_sql(),
        "kg_graph_triangles": graph.graph_triangles_sql(),
        "rdf_nquads_parse": _rdf_parse_fixture_sql(),
        "rdf_nquads_roundtrip": _rdf_roundtrip_sql(),
        "sparql_bgp": _sparql_sql("sparql_bgp_sql"),
        "sparql_modifiers": _sparql_sql("sparql_modifiers_sql"),
        "sparql_construct": _sparql_sql("sparql_construct_sql"),
        "sparql_optional": _sparql_sql("sparql_optional_sql"),
        "sparql_union": _sparql_sql("sparql_union_sql"),
        "sparql_not_exists": _sparql_sql("sparql_not_exists_sql"),
        "sparql_exists_expr": _sparql_sql("sparql_exists_expr_sql"),
        "sparql_exists_compat": _sparql_sql("sparql_exists_compat_sql"),
        "sparql_trailing_values": _sparql_sql("sparql_trailing_values_sql"),
        "sparql_agg_arith": _sparql_sql("sparql_agg_arith_sql"),
        "sparql_having_expr": _sparql_sql("sparql_having_expr_sql"),
        "sparql_path": _sparql_sql("sparql_path_sql"),
        "sparql_path_expr": _sparql_sql("sparql_path_expr_sql"),
        "sparql_path_star": _sparql_sql("sparql_path_star_sql"),
        "sparql_agg_count": _sparql_sql("sparql_agg_count_sql"),
        "sparql_agg_sum": _sparql_sql("sparql_agg_sum_sql"),
        "sparql_agg_concat": _sparql_sql("sparql_agg_concat_sql"),
        "sparql_numeric_filter": _sparql_sql("sparql_numeric_filter_sql"),
        "sparql_subquery": _sparql_sql("sparql_subquery_sql"),
        "sparql_entailed": _sparql_sql("sparql_entailed_sql"),
        "sparql_compat_join": _sparql_sql("sparql_compat_join_sql"),
        "sparql_bind": _sparql_sql("sparql_bind_sql"),
        "sparql_describe": _sparql_sql("sparql_describe_sql"),
        "sparql_filter_compound": _sparql_sql("sparql_filter_compound_sql"),
        "sparql_scalar_funcs": _sparql_sql("sparql_scalar_funcs_sql"),
        "sparql_numeric_funcs": _sparql_sql("sparql_numeric_funcs_sql"),
        "sparql_optional_cond": _sparql_sql("sparql_optional_cond_sql"),
        "sparql_term_funcs": _sparql_sql("sparql_term_funcs_sql"),
        "sparql_datetime": _sparql_sql("sparql_datetime_sql"),
        "sparql_literal_terms": _sparql_sql("sparql_literal_terms_sql"),
        "sparql_construct_where": _sparql_sql("sparql_construct_where_sql"),
        "sparql_nps": _sparql_sql("sparql_nps_sql"),
        "sparql_avg": _sparql_sql("sparql_avg_sql"),
        "sparql_update": _update_sql(),
        "sparql_update_with": _update_with_sql(),
        "sparql_update_load": _update_load_sql(),
        "sparql_update_bnodes": _update_bnode_sql(),
        "sparql_ndet": _sparql_sql("sparql_ndet_sql"),
        "sparql_describe_cbd": _sparql_sql("sparql_describe_cbd_sql"),
        "sparql_service": _sparql_sql("sparql_service_sql"),
        "prove_provenance": f"""
          SELECT 'rule:' || rule_index AS rule,
                 CAST(iteration AS VARCHAR) AS iter,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM ({{}}) GROUP BY 1, 2
        """.format(quads.PROVE_LINEAGE_SQL),
        "graph_bfs_levels": graph.graph_bfs_levels_sql(),
        "graph_sssp": graph.graph_sssp_sql(),
        "graph_components": graph.graph_components_sql(),
        "graph_kcore": graph.graph_kcore_sql(),
        "graph_degree_histogram": graph.graph_degree_histogram_sql(),
        "rdf_trig_format": _rdf_sql("rdf_trig_format_sql"),
        "rdf_trig_roundtrip": _rdf_sql("rdf_trig_roundtrip_sql"),
        "sparql_construct_bnode": _sparql_sql("sparql_construct_bnode_sql"),
        "sparql_construct_skip": _sparql_sql("sparql_construct_skip_sql"),
        "sparql_agg_expr": _sparql_sql("sparql_agg_expr_sql"),
        "sparql_order_expr": _sparql_sql("sparql_order_expr_sql"),
        "sparql_group_expr": _sparql_sql("sparql_group_expr_sql"),
        "sparql_dataset": _sparql_sql("sparql_dataset_sql"),
        "kg_pipeline_derived": KG_PIPELINE_SQL,
        "kg_extract_mentions": """
            SELECT DISTINCT doc_id, tok AS mention FROM (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents
            ) WHERE regexp_full_match(tok, '[a-z]{6,}')
        """,
        "text_token_count": text.token_count_sql(),
        "text_quality": text.quality_score_sql(),
        "text_lang_id": text.lang_id_sql(),
        "text_fingerprint": text.fingerprint_sql(),
        "text_redact_pii": text.redact_pii_sql(),
        "text_repetition": text.repetition_sql(),
        "text_top_ngrams": text.top_ngrams_sql(),
        "text_tfidf": text.tfidf_top_terms_sql(),
        "docs_chunk": text.chunk_docs_sql(),
        "docs_pack": text.pack_offsets_sql(),
        "dedup_exact": dedup.exact_dedup_sql(),
        "dedup_minhash": dedup.minhash_signatures_sql(),
        "dedup_lsh_pairs": dedup.lsh_candidate_pairs_sql(),
        "dedup_lsh_recall": dedup.lsh_planted_recall_sql(),
        "dedup_embedding_pairs": dedup.embedding_neardup_pairs_sql(),
        "dedup_embedding_recall": dedup.embedding_neardup_recall_sql(),
        "dedup_clusters": dedup.neardup_clusters_sql(),
        "docs_keep": dedup.docs_keep_sql(),
        "corpus_snapshot": snapshot.corpus_snapshot_sql(),
        "corpus_diff": snapshot.corpus_diff_sql(),
        "docs_sample_stratified": sample.docs_sample_stratified_sql(),
        "docs_shuffle_rank": sample.docs_shuffle_rank_sql(),
        "docs_decontaminate": decon.decontaminate_sql(),
        "dedup_simhash": dedup.simhash_sql(),
        "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs_sql(),
        "dedup_ngram_lsh_verify": dedup.ngram_jaccard_verify_lsh_sql(),
        "knn_bruteforce": similarity.knn_bruteforce_sql(),
        "knn_lsh_buckets": similarity.knn_lsh_buckets_sql(),
        "knn_lsh": similarity.knn_lsh_sql(),
        "knn_ivf_cells": similarity.knn_ivf_cells_sql(),
        "knn_ivf": similarity.knn_ivf_sql(),
        "knn_ivf_recall": similarity.knn_ivf_recall_sql(),
        "knn_ivf_refined_recall": similarity.knn_ivf_refined_recall_sql(),
        "knn_lsh_recall": similarity.knn_lsh_recall_sql(),
        "emb_sq8_codes": similarity.emb_sq8_codes_sql(),
        "knn_sq8_recall": similarity.knn_sq8_recall_sql(),
        "knn_sq8_refined_recall": similarity.knn_sq8_refined_recall_sql(),
        "events_windowed": events.windowed_counts_sql(),
        "events_sliding": events.sliding_counts_sql(),
        "events_sessionize": events.sessionize_sql(),
        "multimodal_features": multimodal.media_features_sql(),
        "multimodal_codec": multimodal.media_codec_features_sql(),
    }
