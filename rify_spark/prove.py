"""Goal-directed fixpoint with proof lineage, and proof extraction.

Behavioral port of the reference's ``low_prove`` + ``recall_proof``
(src/prove.rs:90-210) on top of the shared fixpoint (infer.py):

  * every head projection carries (rule_index, instantiation array) columns;
  * the first derivation of each novel quad wins
    (``arguments.entry(..).or_insert``, src/prove.rs:142-148) — reproduced as
    a row_number() first-wins per (s,p,o,g) with deterministic tie-break
    (iteration, rule_index, instantiation array). The reference's winner
    depends on its sequential insertion order; on all reference test vectors
    the first derivation is unique or tie-break-stable, which is the
    strongest determinism a distributed engine can honestly offer — where
    proofs could differ they still satisfy the reference's own weaker
    contract (the proof validates and implies the goals, src/prove.rs:604-612);
  * proof extraction is the identical post-order walk with consume-once
    semantics (src/prove.rs:171-210), run driver-side over the reachable
    slice of the arguments table (proof DAGs are tiny; collection is either
    a single collect or an iterative frontier join at scale).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .infer import (
    QUAD_SCHEMA,
    SPOG,
    FixpointResult,
    InferConfig,
    fixpoint,
    unconditional_heads,
)
from .rules import LoweredRule

# argument tables up to this many rows are collected outright; larger ones
# are walked level by level from the goals (collect_reachable_arguments)
COLLECT_ARGUMENTS_MAX_ROWS = 1_000_000


@dataclass(frozen=True)
class LowApplication:
    """A proof step in the engine's value space (the engine strings).

    ``instantiations`` is ordered by the rule's canonical unbound order —
    unlike the reference's slot-indexed Vec<Option<usize>>, it is dense:
    together with the rule's constant slots it fully determines the body
    quads (the information content of src/common.rs:36-39).
    """

    rule_index: int
    instantiations: tuple


def prove_fixpoint(
    spark: SparkSession,
    facts0: DataFrame,
    premises_dedup: DataFrame,
    goals: DataFrame,
    lrules: list,
    cfg: Optional[InferConfig] = None,
) -> FixpointResult:
    """Run the lineage-carrying fixpoint with goal early-exit.

    ``facts0`` = deduped premises ∪ unconditional heads; ``premises_dedup``
    = deduped premises only (needed to deny arguments to premise-equal
    unconditional heads, src/prove.rs:104).
    """
    cfg = cfg or InferConfig()
    heads = unconditional_heads(lrules)
    initial_args = None
    if heads:
        hdf = spark.createDataFrame(heads, f"{QUAD_SCHEMA}, rule_index long")
        initial_args = (
            hdf.join(premises_dedup, SPOG, "left_anti")
            .withColumn("inst", F.array().cast("array<string>"))
            .withColumn("iteration", F.lit(0).cast("long"))
            .select(*SPOG, "rule_index", "inst", "iteration")
        )
    return fixpoint(
        spark,
        facts0,
        lrules,
        cfg,
        lineage=True,
        goals=goals,
        initial_arguments=initial_args,
    )


def _substitute_body(lrule: LoweredRule, inst: tuple) -> list:
    """Reconstruct the concrete body quads of an application
    (src/prove.rs:178-205: constants from the rule, variables from inst)."""
    out = []
    for atom in lrule.body:
        out.append(
            tuple(val if kind == "c" else inst[val] for kind, val in atom)
        )
    return out


def collect_reachable_arguments(
    spark: SparkSession,
    args_df: DataFrame,
    goal_quads: list,
    lrules: list,
    *,
    metrics: Optional[dict] = None,
) -> dict:
    """quad -> LowApplication for every argument reachable from the goals.

    Argument tables up to COLLECT_ARGUMENTS_MAX_ROWS rows are collected
    outright; larger ones are walked with an iterative frontier join (one
    tiny broadcast join per proof-DAG level), so driver memory is bounded
    by the reachable proof slice, not the corpus.

    ``metrics`` (optional, filled in place): ``path`` ("collect"/"frontier"),
    ``total_argument_rows``, and per-level ``frontier_levels`` entries
    ``{level, need, matched}`` — the at-scale observability the soak
    harness (scripts/prove_scale.py) records.
    """
    total = args_df.count()
    by_index = {r.index: r for r in lrules}
    if metrics is not None:
        metrics["total_argument_rows"] = total
        metrics["threshold"] = COLLECT_ARGUMENTS_MAX_ROWS
    if total <= COLLECT_ARGUMENTS_MAX_ROWS:
        if metrics is not None:
            metrics["path"] = "collect"
        rows = args_df.collect()
        return {
            (r["s"], r["p"], r["o"], r["g"]): LowApplication(
                int(r["rule_index"]), tuple(r["inst"])
            )
            for r in rows
        }

    if metrics is not None:
        metrics["path"] = "frontier"
        metrics["frontier_levels"] = []
    args: dict = {}
    visited: set = set()
    frontier = [q for q in goal_quads]
    level = 0
    while frontier:
        need = [q for q in frontier if q not in visited]
        visited.update(need)
        if not need:
            break
        fdf = spark.createDataFrame(need, QUAD_SCHEMA)
        rows = args_df.join(fdf, SPOG, "left_semi").collect()
        if metrics is not None:
            metrics["frontier_levels"].append(
                {"level": level, "need": len(need), "matched": len(rows)}
            )
        level += 1
        frontier = []
        for r in rows:
            quad = (r["s"], r["p"], r["o"], r["g"])
            if quad in args:
                continue
            app = LowApplication(int(r["rule_index"]), tuple(r["inst"]))
            args[quad] = app
            frontier.extend(_substitute_body(by_index[app.rule_index], app.instantiations))
    return args


def recall_proof(goal_quads: list, arguments: dict, lrules: list) -> list:
    """Post-order, consume-once proof extraction (src/prove.rs:171-210).

    Iterative (explicit stack) because derivation chains can exceed Python's
    recursion limit; visit order is identical to the reference's recursion.
    """
    by_index = {r.index: r for r in lrules}
    out: list = []
    for goal in goal_quads:
        stack = [("visit", goal)]
        while stack:
            tag, item = stack.pop()
            if tag == "emit":
                out.append(item)
                continue
            app = arguments.pop(item, None)
            if app is None:
                continue  # premise (or already consumed): bottoms out
            stack.append(("emit", app))
            body = _substitute_body(by_index[app.rule_index], app.instantiations)
            for q in reversed(body):
                stack.append(("visit", q))
    return out


PROV_GRAPH = "graph://prov"


def lineage_to_quads(arguments: DataFrame) -> DataFrame:
    """Reify the prove-mode ``arguments`` table (the first-winning
    derivation per derived quad — reference ``recall_proof``'s input,
    src/prove.rs:503-627) as RDF quads in the ``graph://prov`` named
    graph, so provenance is queryable with the engine's OWN SPARQL
    layer (and serializable with its RDF writers):

      ``_:d <derives_subject|_predicate|_object|_graph> <term>``,
      ``_:d <by_rule> rule:<idx>``, ``_:d <at_iteration> <it>``.

    The derivation node id is ``_:d + md5(quad)`` — the arguments map
    is keyed by the derived quad (one winning derivation each), so the
    mint is injective and reproducible by a SQL twin. Plan shape: one
    narrow projection + ``explode`` of a 6-element literal-struct
    array — a single scan, no shuffle, no Python."""
    d = F.concat(
        F.lit("_:d"),
        F.md5(
            F.concat_ws("\x1f", "s", "p", "o", "g").cast("binary")
        ),
    )
    def pair(p, o):
        return F.struct(F.lit(p).alias("p"), o.alias("o"))

    pairs = F.array(
        pair("derives_subject", F.col("s")),
        pair("derives_predicate", F.col("p")),
        pair("derives_object", F.col("o")),
        pair("derives_graph", F.col("g")),
        pair("by_rule", F.concat(F.lit("rule:"), F.col("rule_index"))),
        pair("at_iteration", F.col("iteration").cast("string")),
    )
    return arguments.select(
        d.alias("_d"), F.explode(pairs).alias("_po")
    ).select(
        F.col("_d").alias("s"),
        F.col("_po.p").alias("p"),
        F.col("_po.o").alias("o"),
        F.lit(PROV_GRAPH).alias("g"),
    )
