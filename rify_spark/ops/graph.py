"""Graph materialization: canonical quads -> vertex/edge tables.

The north rule's final pipeline stage ("graph materialize"): after
extraction, linking, canonicalization and inference, the quad store is
published as a property-graph-shaped pair of tables — an edge table and a
vertex table with degree statistics — for downstream consumers. No
reference analog (rify returns quad lists; its claim graph lives only in
RAM, src/reasoner.rs:87-95).

Spark-first and 100-TB-shaped:
  * the edge table is a pure projection (no shuffle, column-pruned);
  * vertex degrees use ONE shuffle: s- and o-occurrences are unioned as
    (node, out, in) indicator rows and summed in a single groupBy — not a
    groupBy-per-side + outer join (two shuffles + a join);
  * everything is whole-stage-codegen JVM expressions, partitioned by the
    (graph, node) composite key, so a hot node in one graph does not own a
    partition globally.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edges_table(quads: DataFrame) -> DataFrame:
    """Quads as a property-graph edge table (src, rel, dst, graph)."""
    return quads.select(
        F.col("s").alias("src"),
        F.col("p").alias("rel"),
        F.col("o").alias("dst"),
        F.col("g").alias("graph"),
    )


def vertices_table(quads: DataFrame) -> DataFrame:
    """Per (graph, node) vertex table with degree statistics.

    out_degree counts quads where the node is subject, in_degree where it
    is object; both in one shuffle via indicator-row union + sum.
    """
    occ = quads.select(
        F.col("g").alias("graph"),
        F.col("s").alias("node"),
        F.lit(1).alias("__out"),
        F.lit(0).alias("__in"),
    ).unionByName(
        quads.select(
            F.col("g").alias("graph"),
            F.col("o").alias("node"),
            F.lit(0).alias("__out"),
            F.lit(1).alias("__in"),
        )
    )
    return occ.groupBy("graph", "node").agg(
        F.sum("__out").alias("out_degree"),
        F.sum("__in").alias("in_degree"),
    )


def materialize_graph(quads: DataFrame) -> tuple:
    """(vertices, edges) of the quad store — the publishable KG shape."""
    return vertices_table(quads), edges_table(quads)


# --- driver-gate query + DuckDB oracle --------------------------------------

def graph_vertices(spark, sf_dir: str) -> DataFrame:
    """Gate query: vertex/degree table of the customer-key tree graph."""
    from .quads import tree_edges

    return vertices_table(tree_edges(spark, sf_dir))


def graph_vertices_sql() -> str:
    from .quads import TREE_G

    # sums are CAST to BIGINT: DuckDB types sum(INTEGER) as HUGEINT, and
    # the driver's value hash is dtype-sensitive
    return f"""
      WITH e AS (
        SELECT 'node:' || c_custkey AS s, 'node:' || (c_custkey // 2) AS o
        FROM customer WHERE c_custkey >= 1
      ),
      occ AS (
        SELECT s AS node, 1 AS o_, 0 AS i_ FROM e
        UNION ALL
        SELECT o AS node, 0 AS o_, 1 AS i_ FROM e
      )
      SELECT '{TREE_G}' AS graph, node,
             CAST(sum(o_) AS BIGINT) AS out_degree,
             CAST(sum(i_) AS BIGINT) AS in_degree
      FROM occ GROUP BY node
    """


# --- graph analytics over the materialized KG --------------------------------
#
# Two classic KG-quality analytics the reference has no analog for (rify's
# graph lives in RAM as quad lists, src/reasoner.rs:87-95) but any
# 100-TB-scale KG consumer needs: PageRank-style node importance and
# triangle counts (clustering / community signal). Both are implemented so
# the DuckDB oracle can reproduce them BIT-EXACTLY:
#
#   * pagerank uses pure integer (micro-unit) arithmetic — rank is a BIGINT
#     number of millionths, contributions use integer division — so there is
#     no float summation-order nondeterminism between engines;
#   * triangle counting uses degree orientation (each undirected edge is
#     directed from its (degree, node) — lexicographically — smaller
#     endpoint to its larger one), which bounds the wedge join by
#     O(E^{3/2}) instead of O(Σ deg²): the hub side of a skewed graph never
#     fans out, which is precisely what makes the join survive a power-law
#     degree distribution at 100 TB.

MESH_PREV_MIN = 2


def mesh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic customer-key mesh: node k -> parent k//2 (k >= 1) plus
    node k -> prev k-1 (k >= 2). The tree alone is triangle-free; the prev
    chain closes a triangle {k, k-1, k//2} at every odd k >= 3."""
    from .quads import TREE_G

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    parent = cust.filter(F.col("c_custkey") >= 1).select(
        F.concat(F.lit("node:"), F.col("c_custkey")).alias("s"),
        F.lit("parent").alias("p"),
        F.concat(
            F.lit("node:"), F.floor(F.col("c_custkey") / 2).cast("long")
        ).alias("o"),
        F.lit(TREE_G).alias("g"),
    )
    prev = cust.filter(F.col("c_custkey") >= MESH_PREV_MIN).select(
        F.concat(F.lit("node:"), F.col("c_custkey")).alias("s"),
        F.lit("prev").alias("p"),
        F.concat(F.lit("node:"), (F.col("c_custkey") - 1)).alias("o"),
        F.lit(TREE_G).alias("g"),
    )
    return parent.unionByName(prev)


MESH_EDGES_SQL = f"""
  SELECT 'node:' || c_custkey AS s, 'node:' || (c_custkey // 2) AS o
  FROM customer WHERE c_custkey >= 1
  UNION ALL
  SELECT 'node:' || c_custkey AS s, 'node:' || (c_custkey - 1) AS o
  FROM customer WHERE c_custkey >= {MESH_PREV_MIN}
"""

# PageRank constants: ranks are BIGINT millionths; one iteration is
#   r'(v) = BASE + (DAMP_NUM * Σ_{u->v} (r(u) DIV outdeg(u))) DIV DAMP_DEN
# (the no-dangling-redistribution variant: mass at sink nodes is dropped,
# the common choice for join-based implementations; documented so the
# oracle and any consumer agree on the semantics).
PR_UNIT = 1_000_000
PR_BASE = 150_000
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100
PR_ITERS = 3


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer-exact PageRank over an (s, o) edge table -> (node, rank).

    Shuffle shape per iteration: the BIG (edge) side never moves — it is
    joined+degree-annotated, hash-repartitioned on the join key `s`, and
    cache-materialized ONCE up front, so each iteration's equi-join only
    exchanges the N-row rank table against the cached partitioning; the
    contribution aggregate is map-side-combined and lands hash(o)-
    partitioned at the same width, so the node table's left-join (nodes
    cached hash(node)-partitioned) adds no exchange either. Per iteration
    that is one N-row shuffle + one partial-agg shuffle, with the ~2N-row
    edge shuffle paid once instead of `iters` times (measured at 10M
    edges vs the naive re-shuffle loop: +28%/+42% throughput at 2/8
    cores, 2->8-core scaling efficiency 0.584 -> 0.645,
    GRAPH_SCALING.json). The result is eagerly materialized via
    localCheckpoint so the input caches can be released before returning
    (lineage is also truncated, so downstream plans don't re-run the
    loop).
    """
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ed = edges.select("s", "o")
    nodes = (
        ed.select(F.col("s").alias("node"))
        .unionByName(ed.select(F.col("o").alias("node")))
        .distinct()
        .repartition(width, "node")
        .persist()
    )
    outdeg = ed.groupBy("s").agg(F.count("*").alias("outdeg"))
    edges_deg = (
        ed.join(outdeg, "s")
        .select("s", "o", "outdeg")
        .repartition(width, "s")
        .persist()
    )
    edges_deg.count()  # materialize the partitioned cache before the loop
    ranks = nodes.select(
        "node", F.lit(PR_UNIT).cast("long").alias("rank")
    )
    for _ in range(iters):
        contrib = (
            edges_deg.join(ranks, edges_deg["s"] == ranks["node"])
            .select(
                F.col("o"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("o")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["o"], "left")
            .select(
                "node",
                (
                    F.lit(PR_BASE)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(contrib, 0L))"
                        f" div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            )
        )
    out = ranks.localCheckpoint()  # eager: caches below are still live here
    edges_deg.unpersist()
    nodes.unpersist()
    return out


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected view of (s, o) edges.

    Degree-oriented: every undirected edge {u, v} is directed from the
    endpoint with the (degree, node) - lexicographically - smaller key to
    the larger one; wedges (a->b, a->c with key(b) < key(c)) are closed by
    an oriented (b, c) edge. Each triangle is generated exactly once (at
    its minimum-key apex), then exploded to its three corners for the
    per-node counts. Only nodes in >= 1 triangle appear.
    """
    und = (
        edges.select("s", "o")
        .filter(F.col("s") != F.col("o"))
        .select(
            F.least("s", "o").alias("u"), F.greatest("s", "o").alias("v")
        )
        .distinct()
    )
    occ = und.select(F.col("u").alias("node")).unionByName(
        und.select(F.col("v").alias("node"))
    )
    deg = occ.groupBy("node").agg(F.count("*").alias("deg"))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(
                    F.col("u").alias("n"),
                    F.col("du").alias("d"),
                    F.col("v").alias("m"),
                    F.col("dv").alias("dm"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("n"),
                    F.col("dv").alias("d"),
                    F.col("u").alias("m"),
                    F.col("du").alias("dm"),
                )
            )
            .alias("e")
        )
        .select(
            F.col("e.n").alias("lo"),
            F.col("e.m").alias("hi"),
            F.col("e.d").alias("dlo"),
            F.col("e.dm").alias("dhi"),
        )
    )
    e1 = oriented.select(
        F.col("lo").alias("a"),
        F.col("hi").alias("b"),
        F.col("dhi").alias("db"),
    )
    e2 = oriented.select(
        F.col("lo").alias("a"),
        F.col("hi").alias("c"),
        F.col("dhi").alias("dc"),
    )
    wedges = e1.join(e2, "a").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("lo").alias("b"), F.col("hi").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


# --- driver-gate queries + DuckDB oracles -----------------------------------

def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: integer-exact PageRank over the customer-key mesh."""
    return pagerank(mesh_edges(spark, sf_dir))


def graph_pagerank_sql() -> str:
    # the same three iterations, unrolled as chained CTEs; all arithmetic
    # is BIGINT with floor division (DuckDB `//` == Spark `div` on
    # non-negative operands), so the result is bit-identical
    it = """
      c{k} AS (
        SELECT e.o AS node, sum(r.rank // e.outdeg) AS contrib
        FROM ed e JOIN r{j} r ON e.s = r.node GROUP BY e.o
      ),
      r{k} AS (
        SELECT n.node,
               CAST({base} + ({dn} * coalesce(c.contrib, 0)) // {dd}
                    AS BIGINT) AS rank
        FROM nodes n LEFT JOIN c{k} c ON n.node = c.node
      )"""
    iters = ",".join(
        it.format(
            k=k, j=k - 1, base=PR_BASE, dn=PR_DAMP_NUM, dd=PR_DAMP_DEN
        )
        for k in range(1, PR_ITERS + 1)
    )
    return f"""
      WITH mesh AS ({MESH_EDGES_SQL}),
      nodes AS (
        SELECT s AS node FROM mesh UNION SELECT o FROM mesh
      ),
      ed AS (
        SELECT s, o, outdeg FROM mesh
        JOIN (SELECT s AS s2, count(*) AS outdeg FROM mesh GROUP BY s)
          ON s = s2
      ),
      r0 AS (SELECT node, CAST({PR_UNIT} AS BIGINT) AS rank FROM nodes),
      {iters}
      SELECT node, rank FROM r{PR_ITERS}
    """


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-node triangle counts over the customer-key mesh."""
    return triangle_counts(mesh_edges(spark, sf_dir))


def graph_triangles_sql() -> str:
    return f"""
      WITH mesh AS ({MESH_EDGES_SQL}),
      und AS (
        SELECT DISTINCT least(s, o) AS u, greatest(s, o) AS v
        FROM mesh WHERE s <> o
      ),
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT u AS node FROM und UNION ALL SELECT v FROM und
        ) GROUP BY node
      ),
      oriented AS (
        SELECT CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                    THEN und.u ELSE und.v END AS lo,
               CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                    THEN und.v ELSE und.u END AS hi,
               CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                    THEN dv.deg ELSE du.deg END AS dhi
        FROM und
        JOIN deg du ON du.node = und.u
        JOIN deg dv ON dv.node = und.v
      ),
      tris AS (
        SELECT e1.a, e1.b, e2.c FROM
          (SELECT lo AS a, hi AS b, dhi AS db FROM oriented) e1
          JOIN (SELECT lo AS a, hi AS c, dhi AS dc FROM oriented) e2
            ON e1.a = e2.a
           AND ((e1.db, e1.b) < (e2.dc, e2.c))
          JOIN (SELECT lo AS b, hi AS c FROM oriented) e3
            ON e1.b = e3.b AND e2.c = e3.c
      )
      SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    """


# --- BFS hop distances -------------------------------------------------------

BFS_MAX_ITER = 64
def bfs_levels(
    edges: DataFrame, sources: DataFrame, max_iter: int = BFS_MAX_ITER
) -> DataFrame:
    """Minimum hop distance from a source set over a directed ``(s, o)``
    edge table -> ``(node, dist)`` (unreached nodes are absent).

    Classic frontier BFS as a semi-naive fixpoint — the same shape as the
    rule engine's delta loop (infer.py), specialized to one relation:

      * the edge table is hash-partitioned on the join key ``s`` and
        cache-materialized ONCE; each iteration exchanges only the
        frontier (and the dedup/anti stages), never the 100-TB edge set;
      * per iteration: frontier ⋈ edges -> candidate neighbors,
        dropDuplicates (first exchange), anti-join against the visited
        set (second) — candidates carry ``dist = d`` so no per-row
        arithmetic rides the join;
      * each new level is ``localCheckpoint``-truncated, so plan depth
        stays constant as levels accumulate (the lazy-checkpoint lesson
        from the fixpoint loop);
      * termination: empty frontier. ``max_iter`` is a diameter bound
        the caller can raise (shared with the SQL twin's recursion cap);
        if level ``max_iter + 1`` would still reach a new node the call
        raises ``RuntimeError`` instead of returning a truncated map.

    The visited set grows by union-of-checkpointed-levels; the per-
    iteration anti-join is O(visited) — the standard BFS frontier cost,
    and the skew story is the edge table's pre-partitioning (a hot hub
    fans out inside its own partition; AQE splits it if needed).

    Round-6 note — alternatives MEASURED AND REJECTED (5M-node mesh,
    ~45 levels): (a) FactStore-style visited blocks (per-level
    localCheckpoint -> repartition(node) -> persist, zero-exchange
    co-partitioned anti chain) removes the per-level visited-union
    exchange but ADDS a second exchange + second materialization per
    level — 123.5k -> 94.0k nodes/s at 8 cores, 81.2k -> 42.3k at 2
    cores; (b) cache-only blocks with fold-time truncation avoid the
    per-level checkpoint but nest every earlier block's logical plan —
    exponential plan trees (driver OOM), and the bounded-window variant
    collapsed to 13.3k nodes/s in Catalyst analysis cost. On this
    engine, exchanges of already-materialized data are cheaper than
    extra materializations: the simple eager-checkpoint-per-level shape
    below is the fastest measured form at both core counts.
    """
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # null endpoints (quarantined RDF rows, outer-join residue) would
    # defeat the anti-join's visited check (null keys never match) and
    # re-add a null node at every level — drop them up front
    ed = (
        edges.select("s", "o")
        .filter(F.col("s").isNotNull() & F.col("o").isNotNull())
        .repartition(width, "s")
        .persist()
    )
    ed.count()
    visited = (
        sources.select(F.col("node"))
        .filter(F.col("node").isNotNull())
        .dropDuplicates(["node"])
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint()
    )
    frontier = visited
    try:
        for d in itertools.count(1):
            nxt = (
                ed.join(
                    frontier.select(F.col("node").alias("s")), "s"
                )
                .select(F.col("o").alias("node"))
                .dropDuplicates(["node"])
                .join(visited, "node", "left_anti")
                .select("node", F.lit(d).cast("long").alias("dist"))
                .localCheckpoint()
            )
            if not nxt.take(1):
                break
            if d > max_iter:
                raise RuntimeError(
                    f"bfs_levels did not converge within max_iter={max_iter} "
                    f"levels (level {d} still reaches new nodes); raise max_iter"
                )
            visited = visited.unionByName(nxt)
            frontier = nxt
    finally:
        # a job failure mid-loop must not leak the cached edge table for
        # the session lifetime
        ed.unpersist()
    return visited


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: hop distances from node:0 over the REVERSED
    customer-key mesh (parent->child and prev->next), so every node is
    reached and odd nodes shortcut through the prev chain —
    ``dist(k) = min(dist(k//2), dist(k-1)) + 1``."""
    rev = mesh_edges(spark, sf_dir).select(
        F.col("o").alias("s"), F.col("s").alias("o")
    )
    src = spark.createDataFrame([("node:0",)], "node string")
    return bfs_levels(rev, src)


def graph_bfs_levels_sql() -> str:
    return f"""
      WITH RECURSIVE mesh AS ({MESH_EDGES_SQL}),
      r(node, dist) AS (
        SELECT 'node:0', CAST(0 AS BIGINT)
        UNION
        SELECT m.s, r.dist + 1
        FROM r JOIN mesh m ON m.o = r.node
        WHERE r.dist < {BFS_MAX_ITER}
      )
      SELECT node, MIN(dist) AS dist FROM r GROUP BY node
    """


# --- weighted shortest paths (integer min-plus) ------------------------------

SSSP_MAX_ITER = 64


def sssp_distances(
    edges: DataFrame, sources: DataFrame, max_iter: int = SSSP_MAX_ITER
) -> DataFrame:
    """Minimum WEIGHTED distance from a source set over a directed
    ``(s, o, w)`` edge table (non-negative integer weights) ->
    ``(node, dist)``. Bellman-Ford in its semi-naive form: only nodes
    whose distance IMPROVED last round relax their out-edges, so a
    settled 100-TB graph region never re-joins.

    Shape per iteration (the bfs_levels discipline): improved-frontier
    ⋈ once-partitioned edge cache -> candidate distances, min-combined
    map-side in ONE aggregate exchange; a left join against the settled
    map keeps strict improvements only; each improvement block is
    ``localCheckpoint``-truncated. Settled distances merge by
    anti-join + union (the FactStore novelty pattern). Termination:
    with integer weights ≥ 1 every improvement lengthens a simple
    path, so ≤ diameter rounds; zero-weight edges still terminate (an
    equal distance is not an improvement); ``max_iter`` is the
    documented hop cap shared with the SQL twin's recursion bound — if
    round ``max_iter + 1`` would still improve a node the call raises
    ``RuntimeError`` instead of returning unsettled distances.
    Integer arithmetic end to end — bit-identical across engines, no
    float summation order to diverge."""
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ed = (
        edges.select("s", "o", F.col("w").cast("long").alias("w"))
        .filter(
            F.col("s").isNotNull()
            & F.col("o").isNotNull()
            & (F.col("w") >= 0)
        )
        .repartition(width, "s")
        .persist()
    )
    ed.count()
    dist = (
        sources.select(F.col("node"))
        .filter(F.col("node").isNotNull())
        .dropDuplicates(["node"])
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint()
    )
    frontier = dist
    try:
        for rnd in itertools.count(1):
            cand = (
                ed.join(
                    frontier.select(
                        F.col("node").alias("s"), F.col("dist").alias("_d")
                    ),
                    "s",
                )
                .select(
                    F.col("o").alias("node"),
                    (F.col("_d") + F.col("w")).alias("_cand"),
                )
                .groupBy("node")
                .agg(F.min("_cand").alias("_cand"))
            )
            improved = (
                cand.join(dist, "node", "left")
                .filter(
                    F.col("dist").isNull() | (F.col("_cand") < F.col("dist"))
                )
                .select("node", F.col("_cand").alias("dist"))
                .localCheckpoint()
            )
            if not improved.take(1):
                break
            if rnd > max_iter:
                raise RuntimeError(
                    f"sssp_distances did not converge within max_iter="
                    f"{max_iter} rounds (round {rnd} still improves a "
                    f"node); raise max_iter"
                )
            # lazy checkpoint: without it the settled map's plan nests one
            # anti-join per round and every later round re-executes the
            # whole chain — O(rounds^2) join work (measured 22.2s for a
            # 200k-node mesh vs 14.2s with the truncation; the rest is the
            # ~35 rounds' per-round floor). The next round's improved
            # materialization fills it — no extra barrier.
            dist = (
                dist.join(improved, "node", "left_anti")
                .unionByName(improved)
                .localCheckpoint(eager=False)
            )
            frontier = improved
    finally:
        # a job failure mid-loop must not leak the cached edge table
        ed.unpersist()
    return dist


def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: weighted distances from node:0 over the reversed
    customer-key mesh with parent edges at weight 3 and prev edges at
    weight 2 — the cheapest route mixes tree hops and prev-chain runs,
    so min-plus genuinely beats hop count."""
    mesh = mesh_edges(spark, sf_dir)
    rev = mesh.select(
        F.col("o").alias("s"),
        F.col("s").alias("o"),
        F.when(F.col("p") == "parent", F.lit(3))
        .otherwise(F.lit(2))
        .alias("w"),
    )
    src = spark.createDataFrame([("node:0",)], "node string")
    return sssp_distances(rev, src)


def graph_sssp_sql() -> str:
    return f"""
      WITH RECURSIVE mesh AS (
        SELECT 'node:' || c_custkey AS s, 'node:' || (c_custkey // 2) AS o,
               3 AS w
        FROM customer WHERE c_custkey >= 1
        UNION ALL
        SELECT 'node:' || c_custkey, 'node:' || (c_custkey - 1), 2
        FROM customer WHERE c_custkey >= {MESH_PREV_MIN}
      ),
      r(node, dist) AS (
        SELECT 'node:0', CAST(0 AS BIGINT)
        UNION
        SELECT m.s, r.dist + m.w
        FROM r JOIN mesh m ON m.o = r.node
        WHERE r.dist + m.w <= 200
      )
      SELECT node, MIN(dist) AS dist FROM r GROUP BY node
    """


# --- standalone connected-components gate ------------------------------------


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the canonicalization engine's undirected
    connected components (extract/canonicalize.connected_components —
    min-label propagation with edge-consistency convergence) exposed as
    a first-class graph op, over a 25-component star graph: every
    customer links to its nation's anchor customer. The canon is the
    component's lexicographic-min node, which the oracle reproduces as
    a per-nation string MIN."""
    from ..extract.canonicalize import connected_components

    cust = spark.read.parquet(f"{sf_dir.rstrip('/')}/customer.parquet")
    anchor = cust.groupBy("c_nationkey").agg(
        F.min("c_custkey").alias("_anchor")
    )
    edges = cust.join(anchor, "c_nationkey").select(
        F.concat(F.lit("cust:"), F.col("c_custkey")).alias("a"),
        F.concat(F.lit("cust:"), F.col("_anchor")).alias("b"),
    )
    return connected_components(edges)


def graph_components_sql() -> str:
    return """
      SELECT 'cust:' || c_custkey AS node,
             (SELECT MIN('cust:' || c2.c_custkey) FROM customer c2
              WHERE c2.c_nationkey = customer.c_nationkey) AS canon
      FROM customer
    """


# --- k-core decomposition (iterative peeling) --------------------------------

KCORE_MAX_ITER = 128
KCORE_CYCLE = 64  # gate: cycle width over customer keys 1..KCORE_CYCLE


def kcore(edges: DataFrame, k: int, max_iter: int = KCORE_MAX_ITER) -> DataFrame:
    """The k-core of the UNDIRECTED simple graph under a directed
    ``(s, o)`` edge table -> ``(node, deg)`` where ``deg`` is the node's
    degree WITHIN the core subgraph (rify has no graph library; this
    completes the engine's graph-analytics family alongside
    pagerank/triangles/BFS/SSSP/CC — reference scope src/infer.rs is
    rule fixpoints, the same delta discipline reused here).

    Iterative peeling in the engine's semi-naive shape: the edge table
    is symmetrized, dedup'd, hash-partitioned on ``s`` and cached ONCE;
    each round removes every node of current degree < k and maintains
    degrees by DELTA — surviving nodes subtract their edge count into
    the newly-removed set (one frontier-sized join against the edge
    cache + one map-side-combined aggregate), so a settled 100-TB
    region never re-aggregates.  A node dropping below k mid-round is
    removed next round (layered peeling: #rounds = peel depth, not n).
    Degree blocks are ``localCheckpoint``-truncated per round.
    ``max_iter`` is a guard for adversarial peel depths (a path graph
    peels in O(n/2) layers); the gate graph's depth is O(log n).
    """
    if k < 1:
        raise ValueError("k-core requires k >= 1")
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fwd = edges.select("s", "o").filter(
        F.col("s").isNotNull()
        & F.col("o").isNotNull()
        & (F.col("s") != F.col("o"))
    )
    ed = (
        fwd.unionByName(
            fwd.select(F.col("o").alias("s"), F.col("s").alias("o"))
        )
        .dropDuplicates(["s", "o"])
        .repartition(width, "s")
        .persist()
    )
    ed.count()
    try:
        deg = (
            ed.groupBy(F.col("s").alias("node"))
            .agg(F.count("*").cast("long").alias("deg"))
            .localCheckpoint()
        )
        converged = False
        for _ in range(max_iter):
            removed = deg.filter(F.col("deg") < k).select("node")
            if not removed.take(1):
                converged = True
                break
            # neighbors of newly-removed nodes, read from the removed side's
            # OUT-edges (symmetric table: identical to in-edges) so the join
            # key is the edge cache's own partitioning column `s` — the
            # removed delta shuffles/broadcasts, the edge table never does
            loss = (
                ed.join(removed.select(F.col("node").alias("s")), "s")
                .groupBy(F.col("o").alias("node"))
                .agg(F.count("*").cast("long").alias("_loss"))
            )
            deg = (
                deg.join(removed, "node", "left_anti")
                .join(loss, "node", "left")
                .select(
                    "node",
                    (
                        F.col("deg") - F.coalesce(F.col("_loss"), F.lit(0))
                    ).alias("deg"),
                )
                .localCheckpoint()
            )
        if not converged and deg.filter(F.col("deg") < k).take(1):
            # a partially-peeled table is NOT the k-core — nodes below k
            # are still present. Exhausting the round budget is an error,
            # never a silently wrong answer (adversarial peel depths, e.g.
            # a path graph at k=2, peel in O(n) layers).
            raise RuntimeError(
                f"kcore did not converge within max_iter={max_iter} peel "
                f"rounds (nodes of degree < {k} remain); raise max_iter — "
                f"peel depth can reach O(n) on path-like graphs"
            )
    finally:
        ed.unpersist()
    return deg


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the 2-core of (customer-key parent tree + a cycle
    over keys 1..KCORE_CYCLE).  Every cycle in this graph lives inside
    the cycle key range (tree ancestors of small keys are smaller
    keys), so peeling strips the entire hanging forest and the 2-core
    is EXACTLY keys 1..KCORE_CYCLE — the oracle reproduces the core's
    internal degrees in closed form, no recursion."""
    C = KCORE_CYCLE
    cust = spark.read.parquet(f"{sf_dir.rstrip('/')}/customer.parquet")
    tree = cust.filter(F.col("c_custkey") >= 1).select(
        F.concat(F.lit("node:"), F.col("c_custkey")).alias("s"),
        F.concat(
            F.lit("node:"), F.floor(F.col("c_custkey") / 2).cast("long")
        ).alias("o"),
    )
    cyc = cust.filter(F.col("c_custkey").between(1, C)).select(
        F.concat(F.lit("node:"), F.col("c_custkey")).alias("s"),
        F.concat(
            F.lit("node:"), (F.col("c_custkey") % C + 1).cast("long")
        ).alias("o"),
    )
    return kcore(tree.unionByName(cyc), k=2)


def graph_kcore_sql() -> str:
    C = KCORE_CYCLE
    return f"""
      WITH ed AS (
        SELECT c_custkey AS a, c_custkey // 2 AS b FROM customer
        WHERE c_custkey BETWEEN 2 AND {C}
        UNION
        SELECT c_custkey, (c_custkey % {C}) + 1 FROM customer
        WHERE c_custkey BETWEEN 1 AND {C}
      ),
      sym AS (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed)
      SELECT 'node:' || a AS node, CAST(COUNT(DISTINCT b) AS BIGINT) AS deg
      FROM sym WHERE a <> b GROUP BY a
    """


# --- degree distribution -----------------------------------------------------


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Log2-bucketed undirected-degree histogram -> (bucket, n_nodes)
    with ``bucket = floor(log2(deg))`` — the first profile run on any
    100-TB graph (skew detection: a hub bucket at 2^20 tells the
    planner which keys need salting before any join is written).

    Two aggregate exchanges (degree, then bucket — the second over
    O(distinct degrees) rows), no joins.  The bucket is computed from
    the BINARY STRING LENGTH of the degree (``conv(deg, 10, 2)``),
    never ``floor(log2())``: float log at bucket boundaries is 1-ulp
    ambiguous and flips 2^k between buckets across engines."""
    fwd = edges.select("s", "o").filter(
        F.col("s").isNotNull()
        & F.col("o").isNotNull()
        & (F.col("s") != F.col("o"))
    )
    deg = (
        fwd.unionByName(
            fwd.select(F.col("o").alias("s"), F.col("s").alias("o"))
        )
        .dropDuplicates(["s", "o"])
        .groupBy("s")
        .agg(F.count("*").alias("deg"))
    )
    bucket = (F.length(F.conv(F.col("deg"), 10, 2)) - 1).cast("long")
    return (
        deg.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: degree distribution of the customer-key mesh."""
    return degree_histogram(mesh_edges(spark, sf_dir))


def graph_degree_histogram_sql() -> str:
    return f"""
      WITH mesh AS ({MESH_EDGES_SQL}),
      ed AS (
        SELECT DISTINCT s, o FROM (
          SELECT s, o FROM mesh UNION ALL SELECT o AS s, s AS o FROM mesh
        ) WHERE s IS NOT NULL AND o IS NOT NULL AND s != o
      ),
      deg AS (SELECT s, count(*) AS deg FROM ed GROUP BY s)
      SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM deg GROUP BY 1
    """
