"""Engine-operator queries over the driver's TPC-H-ish tables.

These express the fixpoint engine's constituent operators (SURVEY.md §2:
dictionary build/encode, dedup insert, membership, pattern scan, conjunctive
match, head projection, one semi-naive delta round, full closure) as
standalone queries over quads derived from orders/customer/nation — each
with a DuckDB oracle twin so the driver's correctness gate covers the
engine's building blocks one by one.

Quad derivations (deterministic projections of the driver tables):
  * fact graph: order placed_by customer, customer in_nation nation,
    nation in_region region — all in graph://tpch;
  * parent tree: customer k -> parent k//2 (k >= 1) in graph://tree — a
    binary tree whose ancestor closure is the flagship fixpoint query
    (DuckDB oracle: WITH RECURSIVE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

G = "graph://tpch"
TREE_G = "graph://tree"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def tpch_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("placed_by").alias("p"),
        F.concat(F.lit("cust:"), F.col("o_custkey")).alias("o"),
        F.lit(G).alias("g"),
    )
    customer = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("cust:"), F.col("c_custkey")).alias("s"),
        F.lit("in_nation").alias("p"),
        F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("o"),
        F.lit(G).alias("g"),
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
        F.lit("in_region").alias("p"),
        F.concat(F.lit("region:"), F.col("n_regionkey")).alias("o"),
        F.lit(G).alias("g"),
    )
    return orders.unionByName(customer).unionByName(nation)


TPCH_QUADS_SQL = f"""
  SELECT 'order:' || o_orderkey AS s, 'placed_by' AS p,
         'cust:' || o_custkey AS o, '{G}' AS g FROM orders
  UNION ALL
  SELECT 'cust:' || c_custkey, 'in_nation',
         'nation:' || c_nationkey, '{G}' FROM customer
  UNION ALL
  SELECT 'nation:' || n_nationkey, 'in_region',
         'region:' || n_regionkey, '{G}' FROM nation
"""


def tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer-key binary tree: node k -> parent k//2, k >= 1."""
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= 1)
        .select(
            F.concat(F.lit("node:"), F.col("c_custkey")).alias("s"),
            F.lit("parent").alias("p"),
            F.concat(F.lit("node:"), F.floor(F.col("c_custkey") / 2).cast("long")).alias("o"),
            F.lit(TREE_G).alias("g"),
        )
    )


TREE_EDGES_SQL = f"""
  SELECT 'node:' || c_custkey AS s, 'parent' AS p,
         'node:' || (c_custkey // 2) AS o, '{TREE_G}' AS g
  FROM customer WHERE c_custkey >= 1
"""


# --- O1: dictionary build (dense rank ids for cross-engine determinism) ----

DICT_BUILD_PARTS = 16


def dict_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed dense-rank dictionary: range-partition terms, rank within
    each partition, then add per-partition offsets (a tiny collected table).
    Same result as a global row_number() OVER (ORDER BY term) — which the
    DuckDB oracle uses — WITHOUT the single-task global sort that plan would
    force in Spark (at 100x scale every term would funnel through one task).
    The engine's real dictionary is hash ids (rify_spark.dictionary, o2/o3);
    dense ranks exist only for Translator parity (src/translator.rs:14-40).
    """
    quads = tpch_quads(spark, sf_dir)
    terms = quads.select(
        F.explode(F.array("s", "p", "o", "g")).alias("term")
    ).distinct()
    ranged = (
        terms.repartitionByRange(DICT_BUILD_PARTS, "term")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin sampled range boundaries
    )
    w = Window.partitionBy("pid").orderBy("term")
    local = ranged.withColumn("rn", F.row_number().over(w))
    counts = sorted(
        ranged.groupBy("pid").count().collect(), key=lambda r: r["pid"]
    )
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r["pid"], acc))
        acc += r["count"]
    odf = spark.createDataFrame(offsets, "pid int, off long")
    return local.join(F.broadcast(odf), "pid").select(
        "term", (F.col("rn") + F.col("off")).cast("long").alias("id")
    )


DICT_BUILD_SQL = f"""
  WITH quads AS ({TPCH_QUADS_SQL}),
  terms AS (
    SELECT DISTINCT term FROM (
      SELECT s AS term FROM quads UNION
      SELECT p FROM quads UNION
      SELECT o FROM quads UNION
      SELECT g FROM quads
    )
  )
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS id FROM terms
"""


# --- O2: encode quads through the dictionary -------------------------------

def encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch_quads(spark, sf_dir)
    d = dict_build(spark, sf_dir)
    out = quads
    for c in ("s", "p", "o", "g"):
        dc = d.select(F.col("term").alias(f"__t_{c}"), F.col("id").alias(f"{c}_id"))
        out = out.join(dc, out[c] == dc[f"__t_{c}"], "inner")
    return out.select("s_id", "p_id", "o_id", "g_id")


ENCODE_SQL = f"""
  WITH quads AS ({TPCH_QUADS_SQL}),
  d AS ({DICT_BUILD_SQL})
  SELECT ds.id AS s_id, dp.id AS p_id, do_.id AS o_id, dg.id AS g_id
  FROM quads
  JOIN d ds ON quads.s = ds.term
  JOIN d dp ON quads.p = dp.term
  JOIN d do_ ON quads.o = do_.term
  JOIN d dg ON quads.g = dg.term
"""


# --- O3: decode (encode -> dictionary-join decode roundtrip) ---------------

def decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-encode the quad store then decode it back through the
    materialized dictionary — O2+O3 as one verifiable roundtrip (the oracle
    is simply the original quads: decode(encode(x)) == x)."""
    from .. import dictionary as D

    quads = tpch_quads(spark, sf_dir)
    enc = D.encode_quads(quads)
    d = D.build_dict(spark, quads)
    return D.decode_quads(enc, d)


DECODE_ROUNDTRIP_SQL = TPCH_QUADS_SQL


# --- O4: insert with dedup -------------------------------------------------

def insert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch_quads(spark, sf_dir)
    return quads.unionByName(quads).dropDuplicates(["s", "p", "o", "g"])


INSERT_DEDUP_SQL = f"""
  SELECT DISTINCT s, p, o, g FROM (
    {TPCH_QUADS_SQL}
    UNION ALL
    {TPCH_QUADS_SQL}
  )
"""


# --- O5: membership (semi-join) --------------------------------------------

def membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which candidate quads (cust:k in_nation nation:k%25) are actually in
    the store? Exactly the left_semi membership test of the engine."""
    quads = tpch_quads(spark, sf_dir)
    cand = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            F.concat(F.lit("cust:"), F.col("c_custkey")).alias("s"),
            F.lit("in_nation").alias("p"),
            F.concat(F.lit("nation:"), (F.col("c_custkey") % 25)).alias("o"),
            F.lit(G).alias("g"),
        )
    )
    return cand.join(quads, ["s", "p", "o", "g"], "left_semi")


MEMBERSHIP_SQL = f"""
  WITH quads AS ({TPCH_QUADS_SQL}),
  cand AS (
    SELECT 'cust:' || c_custkey AS s, 'in_nation' AS p,
           'nation:' || (c_custkey % 25) AS o, '{G}' AS g
    FROM customer WHERE c_custkey < 200
  )
  SELECT s, p, o, g FROM cand
  WHERE EXISTS (
    SELECT 1 FROM quads q
    WHERE q.s = cand.s AND q.p = cand.p AND q.o = cand.o AND q.g = cand.g
  )
"""


# --- O6: pattern scan (constant-bound slots) -------------------------------

def pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch_quads(spark, sf_dir).filter(
        (F.col("p") == "in_nation") & (F.col("o") == "nation:3")
    )


PATTERN_SCAN_SQL = f"""
  SELECT * FROM ({TPCH_QUADS_SQL})
  WHERE p = 'in_nation' AND o = 'nation:3'
"""


# --- O7: conjunctive match (two-atom rule body) ----------------------------

def conjunctive_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bindings of (?ord placed_by ?c ?g) ∧ (?c in_nation ?n ?g)."""
    quads = tpch_quads(spark, sf_dir)
    a1 = quads.filter(F.col("p") == "placed_by").select(
        F.col("s").alias("v_ord"), F.col("o").alias("v_c"), F.col("g").alias("v_g")
    )
    a2 = quads.filter(F.col("p") == "in_nation").select(
        F.col("s").alias("v_c"), F.col("o").alias("v_n"), F.col("g").alias("v_g")
    )
    return a1.join(a2, ["v_c", "v_g"], "inner").select("v_ord", "v_c", "v_n", "v_g")


CONJUNCTIVE_MATCH_SQL = f"""
  WITH quads AS ({TPCH_QUADS_SQL})
  SELECT a1.s AS v_ord, a1.o AS v_c, a2.o AS v_n, a1.g AS v_g
  FROM quads a1 JOIN quads a2
    ON a1.o = a2.s AND a1.g = a2.g
  WHERE a1.p = 'placed_by' AND a2.p = 'in_nation'
"""


# --- O10: head projection --------------------------------------------------

def head_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project head (?n has_customer ?c ?g) from O7's bindings, deduped."""
    b = conjunctive_match(spark, sf_dir)
    return b.select(
        F.col("v_n").alias("s"),
        F.lit("has_customer").alias("p"),
        F.col("v_c").alias("o"),
        F.col("v_g").alias("g"),
    ).dropDuplicates(["s", "p", "o", "g"])


HEAD_PROJECTION_SQL = f"""
  SELECT DISTINCT v_n AS s, 'has_customer' AS p, v_c AS o, v_g AS g
  FROM ({CONJUNCTIVE_MATCH_SQL})
"""


# --- O9: one semi-naive delta round ----------------------------------------

def delta_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 2 of the transitive closure: with facts = delta = direct
    ancestor edges, derive (Δ ⋈ F) ∪ (F ⋈ Δ) minus known — one iteration of
    the engine's delta-restricted evaluation, as a standalone query."""
    anc = tree_edges(spark, sf_dir).select(
        "s", F.lit("ancestor").alias("p"), "o", "g"
    )
    l = anc.select(F.col("s").alias("a"), F.col("o").alias("b"), "g")
    r = anc.select(F.col("s").alias("b"), F.col("o").alias("c"), "g")
    derived = (
        l.join(r, ["b", "g"], "inner")
        .select(
            F.col("a").alias("s"),
            F.lit("ancestor").alias("p"),
            F.col("c").alias("o"),
            "g",
        )
        .dropDuplicates(["s", "p", "o", "g"])
    )
    return derived.join(anc, ["s", "p", "o", "g"], "left_anti")


DELTA_ROUND_SQL = f"""
  WITH anc AS (
    SELECT s, 'ancestor' AS p, o, g FROM ({TREE_EDGES_SQL})
  ),
  derived AS (
    SELECT DISTINCT l.s, 'ancestor' AS p, r.o, l.g
    FROM anc l JOIN anc r ON l.o = r.s AND l.g = r.g
  )
  SELECT d.s, d.p, d.o, d.g FROM derived d
  WHERE NOT EXISTS (
    SELECT 1 FROM anc a
    WHERE a.s = d.s AND a.p = d.p AND a.o = d.o AND a.g = d.g
  )
"""


# --- O11: full fixpoint (flagship) -----------------------------------------

ANCESTRY_CLOSURE_SQL = f"""
  WITH RECURSIVE edge AS (
    SELECT c_custkey AS child, c_custkey // 2 AS par
    FROM customer WHERE c_custkey >= 1
  ),
  anc AS (
    SELECT child, par AS anc FROM edge
    UNION
    SELECT a.child, e.par AS anc
    FROM anc a JOIN edge e ON a.anc = e.child
  )
  SELECT 'node:' || child AS s, 'ancestor' AS p, 'node:' || anc AS o,
         '{TREE_G}' AS g
  FROM anc
"""


def ancestry_closure(spark: SparkSession, sf_dir: str, config=None) -> DataFrame:
    """The real engine: parent quads -> infer_df with the two ancestry rules
    (the reference's own benchmark shape, benches/src/lib.rs:18-45) ->
    derived ancestor quads. Oracle: DuckDB WITH RECURSIVE."""
    from ..api import infer_df
    from ..infer import InferConfig
    from ..rules import Bound as B, Rule, Unbound as U

    edges = tree_edges(spark, sf_dir)
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
    derived, _ = infer_df(spark, edges, rules, config or InferConfig())
    return derived


# --- O19: linear-recursion deep-chain closure (smart TC) -------------------

CHAIN_LINKS = 1024


def linear_chain_closure(spark: SparkSession, sf_dir: str, config=None) -> DataFrame:
    """Deep-chain reachability written the way users write it — the LINEAR
    recursion reach(x,z) <- next(x,y), reach(y,z) — which semi-naive
    evaluation would grind through one Spark iteration PER LINK (1024 jobs
    here; 10^5+ on real dependency chains). Smart TC (tc.py) closes the
    same least fixpoint in ceil(log2 n)+2 rounds; this gate certifies both
    the closure (exact vs the all-pairs oracle: the TC of a path graph is
    every ordered pair) and that smart TC actually ran. The chain fixture
    is the first CHAIN_LINKS+1 customer keys — driver-bounded, so the
    unpartitioned rank window is fine; the closure itself runs
    distributed."""
    from ..api import infer_df
    from ..infer import InferConfig
    from ..rules import Bound as B, Rule, Unbound as U

    w = Window.orderBy("c_custkey")
    edges = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(CHAIN_LINKS + 1)
        .select("c_custkey", F.lead("c_custkey").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.concat(F.lit("c:"), F.col("c_custkey")).alias("s"),
            F.lit("next").alias("p"),
            F.concat(F.lit("c:"), F.col("nxt")).alias("o"),
            F.lit("chain").alias("g"),
        )
    )
    rules = [
        Rule.create(
            [[U("a"), B("next"), U("b"), U("g")]],
            [[U("a"), B("reach"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("next"), U("b"), U("g")],
                [U("b"), B("reach"), U("c"), U("g")],
            ],
            [[U("a"), B("reach"), U("c"), U("g")]],
        ),
    ]
    derived, res = infer_df(spark, edges, rules, config or InferConfig())
    if not any(m.get("strategy") == "smart_tc" for m in res.metrics):
        raise RuntimeError("linear-chain gate expected smart TC to run")
    return derived


LINEAR_CHAIN_SQL = f"""
  WITH k AS (
    SELECT c_custkey, ROW_NUMBER() OVER (ORDER BY c_custkey) AS rk
    FROM (SELECT c_custkey FROM customer ORDER BY c_custkey
          LIMIT {CHAIN_LINKS + 1}) t
  )
  SELECT 'c:' || a.c_custkey AS s, 'reach' AS p, 'c:' || b.c_custkey AS o,
         'chain' AS g
  FROM k a JOIN k b ON a.rk < b.rk
"""


# --- O13 oracle: prove-lineage arguments table ------------------------------
# The arguments table of the goal-directed fixpoint IS SQL-expressible for
# the binary-tree closure, because first-derivation attribution is fully
# determined by the unique path length j between a node and its ancestor
# (a = k >> j): rule 0 (parent->ancestor) derives exactly the j=1 quads in
# iteration 1, and the doubling semi-naive rounds of rule 2 (anc ∧ anc)
# derive j in (2^(i-2), 2^(i-1)] at iteration i, so
# iteration(j) = 1 if j == 1 else ceil(log2(j)) + 1. The goal (deepest node
# -> node:0) has the maximum path length, so early exit still yields the
# full closure.

PROVE_LINEAGE_SQL = f"""
  WITH RECURSIVE anc AS (
    SELECT c_custkey AS child, c_custkey // 2 AS a, 1 AS j
    FROM customer WHERE c_custkey >= 1
    UNION ALL
    SELECT child, a // 2, j + 1 FROM anc WHERE a >= 1
  )
  SELECT 'node:' || child AS s, 'ancestor' AS p, 'node:' || a AS o,
         '{TREE_G}' AS g,
         CAST(CASE WHEN j = 1 THEN 0 ELSE 1 END AS BIGINT) AS rule_index,
         CAST(CASE WHEN j = 1 THEN 1 ELSE ceil(log2(j)) + 1 END AS BIGINT)
           AS iteration
  FROM anc
"""


# --- O8: join-order heuristic ------------------------------------------------

def join_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8: the stats-driven greedy join order (matcher.order_body — the
    analog of the reference's pop_strictest_requirement,
    src/reasoner.rs:235-243) over the 3-atom chain
    (?ord placed_by ?c)(?c in_nation ?n)(?n in_region ?r). Per-predicate
    counts come from a distributed agg; the oracle recomputes the greedy
    choice from the same counts independently in SQL."""
    from ..matcher import order_body
    from ..rules import Bound as B, Rule, Unbound as U, lower_rule

    quads = tpch_quads(spark, sf_dir)
    stats = {r["p"]: r["count"] for r in quads.groupBy("p").count().collect()}
    rule = Rule.create(
        [
            [U("ord"), B("placed_by"), U("c"), B(G)],
            [U("c"), B("in_nation"), U("n"), B(G)],
            [U("n"), B("in_region"), U("r"), B(G)],
        ],
        [[U("ord"), B("in_region_via"), U("r"), B(G)]],
    )
    lr = lower_rule(rule, 0, lambda t: t)
    order = order_body(lr.body, stats=stats)
    preds = ["placed_by", "in_nation", "in_region"]
    rows = [
        (pos, atom, preds[atom], int(stats.get(preds[atom], 0)))
        for pos, atom in enumerate(order)
    ]
    return spark.createDataFrame(
        rows, "position long, atom_index long, predicate string, est_rows long"
    )


# greedy order for the a1-a2-a3 chain (a1&a3 share no variable): first pick
# is global min count (tie -> lower atom index); if the middle atom goes
# first both ends are connected and the smaller count goes next; an end atom
# first forces the middle next.
JOIN_ORDER_SQL = f"""
  WITH quads AS ({TPCH_QUADS_SQL}),
  c AS (SELECT p, count(*) AS n FROM quads GROUP BY p),
  t AS (
    SELECT (SELECT n FROM c WHERE p = 'placed_by') AS n1,
           (SELECT n FROM c WHERE p = 'in_nation') AS n2,
           (SELECT n FROM c WHERE p = 'in_region') AS n3
  ),
  ord AS (
    SELECT CASE
             WHEN n1 <= n2 AND n1 <= n3 THEN [0, 1, 2]
             WHEN n3 < n1 AND n3 < n2 THEN [2, 1, 0]
             WHEN n1 <= n3 THEN [1, 0, 2]
             ELSE [1, 2, 0]
           END AS o,
           [n1, n2, n3] AS n
    FROM t
  ),
  pos AS (SELECT unnest(generate_series(0, 2)) AS position)
  SELECT CAST(position AS BIGINT) AS position,
         CAST(o[position + 1] AS BIGINT) AS atom_index,
         (['placed_by', 'in_nation', 'in_region'])[o[position + 1] + 1]
           AS predicate,
         CAST(n[o[position + 1] + 1] AS BIGINT) AS est_rows
  FROM pos, ord
"""


# --- O12: unconditional-rule seeding -----------------------------------------

def seed_unconditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12: premises ∪ literal heads of empty-body rules, first-wins deduped
    (the pre-loop seeding of src/infer.rs:36-50). The premise side is fed in
    duplicated and a head repeats across two rules, so the dedup semantics
    are load-bearing."""
    from ..infer import seed_facts
    from ..rules import Bound as B, Rule, lower_rule

    edges = tree_edges(spark, sf_dir)
    rules = [
        Rule.create([], [[B("axiom:root"), B("is"), B("root"), B(TREE_G)]]),
        Rule.create(
            [],
            [
                [B("axiom:root"), B("is"), B("root"), B(TREE_G)],
                [B("tree:0"), B("rooted_at"), B("node:0"), B(TREE_G)],
            ],
        ),
    ]
    lrules = [lower_rule(r, i, lambda t: t) for i, r in enumerate(rules)]
    return seed_facts(spark, edges.unionByName(edges), lrules, "string")


SEED_UNCONDITIONAL_SQL = f"""
  SELECT DISTINCT s, p, o, g FROM (
    {TREE_EDGES_SQL}
    UNION ALL
    SELECT 'axiom:root', 'is', 'root', '{TREE_G}'
    UNION ALL
    SELECT 'tree:0', 'rooted_at', 'node:0', '{TREE_G}'
  )
"""


# --- O14/O15: proof extraction + proof raise ---------------------------------
# The reference pins the exact 11-step proof for this fixture
# (src/prove.rs:503-627), so the oracle is the literal expected proof.

_DG = "default_graph"

_FRIENDSHIP_FACTS = [
    ("soyoung", "friendswith", "nick", _DG),
    ("nick", "friendswith", "elina", _DG),
    ("elina", "friendswith", "sam", _DG),
    ("sam", "friendswith", "fausto", _DG),
    ("fausto", "friendswith", "lovesh", _DG),
    ("andrew", "claims", "_:claim1", _DG),
    ("_:claim1", "subject", "lovesh", _DG),
    ("_:claim1", "property", "is", _DG),
    ("_:claim1", "object", "awesome", _DG),
]

_EXPECTED_PROOF = [
    (0, ("_:claim1", "lovesh", "is", "awesome")),
    (2, ("fausto", "lovesh")),
    (1, ("lovesh", "fausto")),
    (2, ("sam", "fausto")),
    (1, ("fausto", "sam")),
    (2, ("elina", "sam")),
    (1, ("sam", "elina")),
    (2, ("nick", "elina")),
    (1, ("elina", "nick")),
    (2, ("soyoung", "nick")),
    (1, ("nick", "soyoung")),
]


def _friendship_rules():
    from ..rules import Bound as B, Rule, Unbound as U

    return [
        Rule.create(
            [
                [B("andrew"), B("claims"), U("c"), B(_DG)],
                [U("c"), B("subject"), U("s"), B(_DG)],
                [U("c"), B("property"), U("p"), B(_DG)],
                [U("c"), B("object"), U("o"), B(_DG)],
            ],
            [[U("s"), U("p"), U("o"), B(_DG)]],
        ),
        Rule.create(
            [
                [U("person_a"), B("is"), B("awesome"), B(_DG)],
                [U("person_a"), B("friendswith"), U("person_b"), B(_DG)],
            ],
            [[U("person_b"), B("is"), B("awesome"), B(_DG)]],
        ),
        Rule.create(
            [[U("person_a"), B("friendswith"), U("person_b"), B(_DG)]],
            [[U("person_b"), B("friendswith"), U("person_a"), B(_DG)]],
        ),
    ]


def _proof_df(spark: SparkSession, encode_terms: bool) -> DataFrame:
    from ..api import prove
    from ..infer import InferConfig

    claims = [("soyoung", "is", "awesome", _DG), ("nick", "is", "awesome", _DG)]
    proof = prove(
        spark,
        _FRIENDSHIP_FACTS,
        claims,
        _friendship_rules(),
        InferConfig(encode_terms=encode_terms),
    )
    rows = [
        (i, app.rule_index, "|".join(app.instantiations))
        for i, app in enumerate(proof)
    ]
    return spark.createDataFrame(rows, "step long, rule_index long, inst string")


def proof_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14: recall_proof over the lineage table, raw-string engine path —
    the exact canonical proof (src/prove.rs:168-207)."""
    return _proof_df(spark, encode_terms=False)


def proof_raise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15: the same proof through the hash-encoded engine
    (``encode_terms=True``), raised back from 128-bit ids to terms
    (src/common.rs:52-77) — identical output proves the raise is a
    bijection on the proof's instantiation vectors."""
    return _proof_df(spark, encode_terms=True)


PROOF_SQL = "SELECT * FROM (VALUES\n" + ",\n".join(
    f"  (CAST({i} AS BIGINT), CAST({ri} AS BIGINT), '{'|'.join(inst)}')"
    for i, (ri, inst) in enumerate(_EXPECTED_PROOF)
) + "\n) t(step, rule_index, inst)"


# --- O17: rule lowering -------------------------------------------------------

def rule_lowering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17: Rule -> LoweredRule slot structure (src/rule.rs:103-168) as rows:
    shared variables share dense slot ids in canonical first-appearance
    order, constants carry translated values. Includes the reference's
    similar-names vector (variable 'a' distinct from constant 'a',
    src/rule.rs:242-257)."""
    from ..rules import Bound as B, Rule, Unbound as U, lower_rule

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
        Rule.create([[U("a"), B("a"), U("b"), U("g")]], []),
    ]
    lrules = [lower_rule(r, i, lambda t: f"const:{t}") for i, r in enumerate(rules)]
    rows = []
    for lr in lrules:
        for part, atoms in (("body", lr.body), ("head", lr.head)):
            for ai, atom in enumerate(atoms):
                for si, (kind, val) in enumerate(atom):
                    rows.append((lr.index, part, ai, si, kind, str(val)))
    return spark.createDataFrame(
        rows,
        "rule_index long, part string, atom_pos long, slot_pos long, "
        "kind string, value string",
    )


_LOWERING_EXPECTED = [
    # rule 0: canon vars a=0, b=1, g=2
    (0, "body", 0, 0, "v", "0"), (0, "body", 0, 1, "c", "const:parent"),
    (0, "body", 0, 2, "v", "1"), (0, "body", 0, 3, "v", "2"),
    (0, "head", 0, 0, "v", "0"), (0, "head", 0, 1, "c", "const:ancestor"),
    (0, "head", 0, 2, "v", "1"), (0, "head", 0, 3, "v", "2"),
    # rule 1: canon vars a=0, b=1, g=2, c=3
    (1, "body", 0, 0, "v", "0"), (1, "body", 0, 1, "c", "const:ancestor"),
    (1, "body", 0, 2, "v", "1"), (1, "body", 0, 3, "v", "2"),
    (1, "body", 1, 0, "v", "1"), (1, "body", 1, 1, "c", "const:ancestor"),
    (1, "body", 1, 2, "v", "3"), (1, "body", 1, 3, "v", "2"),
    (1, "head", 0, 0, "v", "0"), (1, "head", 0, 1, "c", "const:ancestor"),
    (1, "head", 0, 2, "v", "3"), (1, "head", 0, 3, "v", "2"),
    # rule 2: variable 'a' (slot 0) is distinct from constant 'a'
    (2, "body", 0, 0, "v", "0"), (2, "body", 0, 1, "c", "const:a"),
    (2, "body", 0, 2, "v", "1"), (2, "body", 0, 3, "v", "2"),
]

RULE_LOWERING_SQL = "SELECT * FROM (VALUES\n" + ",\n".join(
    f"  (CAST({ri} AS BIGINT), '{part}', CAST({ai} AS BIGINT), "
    f"CAST({si} AS BIGINT), '{kind}', '{val}')"
    for ri, part, ai, si, kind, val in _LOWERING_EXPECTED
) + "\n) t(rule_index, part, atom_pos, slot_pos, kind, value)"


# --- O18: rule validation (range restriction) --------------------------------

def rule_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18: range-restriction checking over a fixture of rule JSONs
    (src/rule.rs:72-86,196-210): every unbound name in `then` must occur in
    `if_all`; unconditional rules therefore need all-constant heads."""
    from ..errors import UnboundImplied
    from ..rules import Rule

    fixtures = [
        (
            "ancestry_step",
            {
                "if_all": [[{"Unbound": "a"}, {"Bound": "parent"},
                            {"Unbound": "b"}, {"Unbound": "g"}]],
                "then": [[{"Unbound": "a"}, {"Bound": "ancestor"},
                          {"Unbound": "b"}, {"Unbound": "g"}]],
            },
        ),
        (
            "unbound_implied_var",
            {
                "if_all": [],
                "then": [[{"Unbound": "a"}, {"Unbound": "a"},
                          {"Unbound": "a"}, {"Unbound": "a"}]],
            },
        ),
        (
            "unbound_in_head_only",
            {
                "if_all": [[{"Unbound": "x"}, {"Bound": "p"},
                            {"Unbound": "y"}, {"Bound": "g"}]],
                "then": [[{"Unbound": "x"}, {"Bound": "p"},
                          {"Unbound": "z"}, {"Bound": "g"}]],
            },
        ),
        (
            "unconditional_const_head",
            {
                "if_all": [],
                "then": [[{"Bound": "nachos"}, {"Bound": "are"},
                          {"Bound": "food"}, {"Bound": "g"}]],
            },
        ),
    ]
    rows = []
    for name, obj in fixtures:
        try:
            Rule.from_json(obj)
            status = "ok"
        except UnboundImplied as exc:
            status = f"UnboundImplied:{exc.name}"
        rows.append((name, status))
    return spark.createDataFrame(rows, "rule_name string, status string")


RULE_VALIDATION_SQL = """
  SELECT * FROM (VALUES
    ('ancestry_step', 'ok'),
    ('unbound_implied_var', 'UnboundImplied:a'),
    ('unbound_in_head_only', 'UnboundImplied:z'),
    ('unconditional_const_head', 'ok')
  ) t(rule_name, status)
"""


# --- skew: salted shuffle-join closure over a planted-hot-key star ----------
# Gate query for the explicit skew path (skew.py targeted_salted_join wired
# into matcher.bindings): every customer node points at one hub, so the hub
# term holds ~50% of all s/o occurrences — far past hot_value_min_share. The
# config forces every iteration onto shuffle joins (broadcast cutoff 0), so
# each single-variable bindings join runs SALTED. The oracle is the plain
# (unsalted) closure — salting must be invisible in the result.

def skew_salted_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import infer_df
    from ..infer import InferConfig
    from ..rules import Bound as B, Rule, Unbound as U

    nodes = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") >= 1)
    edges = nodes.select(
        F.concat(F.lit("node:"), F.col("c_custkey")).alias("s"),
        F.lit("parent").alias("p"),
        F.lit("hub").alias("o"),
        F.lit(TREE_G).alias("g"),
    ).unionByName(
        spark.createDataFrame(
            [("hub", "parent", "root", TREE_G)],
            "s string, p string, o string, g string",
        )
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
    cfg = InferConfig(
        broadcast_delta_max_rows=0,  # force the shuffle-join (salted) path
        salt_hot_values=True,
        hot_value_min_share=0.1,
    )
    derived, _ = infer_df(spark, edges, rules, cfg)
    return derived


SKEW_SALTED_CLOSURE_SQL = f"""
  WITH nodes AS (SELECT c_custkey AS k FROM customer WHERE c_custkey >= 1)
  SELECT 'node:' || k AS s, 'ancestor' AS p, 'hub' AS o, '{TREE_G}' AS g
  FROM nodes
  UNION ALL
  SELECT 'node:' || k, 'ancestor', 'root', '{TREE_G}' FROM nodes
  UNION ALL
  SELECT 'hub', 'ancestor', 'root', '{TREE_G}'
"""


# --- per-predicate store statistics ------------------------------------------


def store_stats(quads: DataFrame) -> DataFrame:
    """Per-predicate statistics of a quad store -> (p, n_quads,
    n_subjects, n_objects) — the public surface of what the join-order
    heuristic consumes (matcher.order_body takes per-predicate counts;
    n_subjects/n_objects additionally expose fanout, the broadcast- and
    salt-decision inputs a 100-TB deployment tunes with).

    One groupBy(p): count + two COUNT(DISTINCT) in a single aggregate
    (Catalyst plans the multi-distinct as one Expand + aggregate
    pipeline — still a single pass over the store, map-side partials).
    The output is O(vocabulary) rows: driver-safe at any corpus size.
    """
    return quads.groupBy("p").agg(
        F.count("*").cast("long").alias("n_quads"),
        F.countDistinct("s").cast("long").alias("n_subjects"),
        F.countDistinct("o").cast("long").alias("n_objects"),
    )


def kg_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return store_stats(tpch_quads(spark, sf_dir))


KG_STORE_STATS_SQL = f"""
  WITH q AS ({TPCH_QUADS_SQL})
  SELECT p, CAST(count(*) AS BIGINT) AS n_quads,
         CAST(count(DISTINCT s) AS BIGINT) AS n_subjects,
         CAST(count(DISTINCT o) AS BIGINT) AS n_objects
  FROM q GROUP BY p
"""
