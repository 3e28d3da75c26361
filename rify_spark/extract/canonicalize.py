"""Entity canonicalization: connected components over candidate same-as
edges (the north rule's "connected-components-style min-hash union").

No reference analog (rify has no entity resolution). The components come
from the one min-label propagation kernel,
:func:`rify_spark.ops.graph.min_label_components`: fused two-hop rounds
over a once-checkpointed edge table, each round's labels checkpointed and
checked for convergence by one straddling-edge count. Entity-link
components are star-shaped (mention -> definition), so convergence is one
round in practice.

Representative election is rank-based: every node carries a (rank, id) pair
and components adopt the minimum — ranks order canonical IRIs before
unresolved mentions, so components canonicalize onto real entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.graph import CC_MAX_ITER, min_label_components

# lower rank = preferred representative
_RANKS = [
    ("repo://%", 0),   # concrete modules / symbols
    ("mod://%", 1),
    ("name://%", 2),   # unresolved mentions
]

# scope separator for composite (graph, node) CC keys — entity resolution is
# graph-scoped: the same identifier in two repos is two entities
SCOPE_SEP = "\x01"


def _node_rank():
    # rank on the node part even when a graph scope prefix is present
    stripped = F.substring_index(F.col("node"), SCOPE_SEP, -1)
    expr = F.lit(3)
    for pat, rank in reversed(_RANKS):
        expr = F.when(stripped.like(pat), F.lit(rank)).otherwise(expr)
    return expr


def connected_components(
    edges: DataFrame, max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """edges(a: string, b: string) -> mapping(node: string, canon: string).

    Undirected connected components; each node maps to its component's
    preferred representative: the min ``(rank, node)`` struct label of
    :func:`rify_spark.ops.graph.min_label_components` (lexicographic, so
    the rank decides first). Entity-link graphs are bipartite
    mention->entity stars (diameter <= 2), so the common case is one
    round; ambiguous mentions chaining entities take more, up to
    ``max_iter`` rounds, past which the call raises.
    """
    label = F.struct(_node_rank().alias("r"), F.col("node").alias("n"))
    return min_label_components(edges, label, max_iter).select(
        "node", F.col("label.n").alias("canon")
    )


def scoped_components(
    edges: DataFrame, max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """Graph-scoped connected components.

    edges(g, a, b) -> mapping(g, node, canon): components never straddle
    graphs, so the same identifier in two repos stays two entities.
    Implemented by prefixing nodes with their graph before the global CC —
    the prefix also keeps hash partitioning balanced when one identifier is
    hot across many repos.
    """
    prefixed = edges.select(
        F.concat(F.col("g"), F.lit(SCOPE_SEP), F.col("a")).alias("a"),
        F.concat(F.col("g"), F.lit(SCOPE_SEP), F.col("b")).alias("b"),
    )
    mapping = connected_components(prefixed, max_iter)
    return mapping.select(
        F.substring_index(F.col("node"), SCOPE_SEP, 1).alias("g"),
        F.substring_index(F.col("node"), SCOPE_SEP, -1).alias("node"),
        F.substring_index(F.col("canon"), SCOPE_SEP, -1).alias("canon"),
    )


def canonicalize_quads(
    quads: DataFrame, mapping: DataFrame
) -> DataFrame:
    """Rewrite s/o through the graph-scoped canonical mapping(g, node, canon)
    (p is vocabulary, g is the scope — never rewritten). Nodes without a
    mapping stay themselves."""
    out = quads
    for c in ("s", "o"):
        m = mapping.select(
            F.col("g").alias(f"__g_{c}"),
            F.col("node").alias(f"__n_{c}"),
            F.col("canon").alias(f"__c_{c}"),
        )
        out = out.join(
            m,
            (out[c] == m[f"__n_{c}"]) & (out["g"] == m[f"__g_{c}"]),
            "left",
        )
    return out.select(
        F.coalesce("__c_s", "s").alias("s"),
        F.col("p"),
        F.coalesce("__c_o", "o").alias("o"),
        F.col("g"),
    ).dropDuplicates(["s", "p", "o", "g"])
