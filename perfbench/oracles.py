"""Expected outputs, computed without Spark: closed forms on the driver
and DuckDB queries over the same generated files. Every check runs
outside the timed region.

``skew`` shifts every expected count by that many rows; the smoke test
sets it to prove that a wrong expectation fails the check.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow.parquet as pq

from inputs import node


def _duck():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    return con


def check_closure(path: str, parent: np.ndarray, depth: np.ndarray, sample: list, skew: int = 0) -> bool:
    """Derived ancestor quads: the count equals sum(depth), and the
    ancestor sets of the sampled nodes are exact."""
    t = pq.read_table(path, columns=["s", "p", "o"])
    if t.num_rows != int(depth.sum()) + skew:
        return False
    want = {node(k) for k in sample}
    got: dict = {s: set() for s in want}
    for s, p, o in zip(*(t.column(c).to_pylist() for c in ("s", "p", "o"))):
        if p != "ancestor":
            return False
        if s in got:
            got[s].add(o)
    for k in sample:
        anc, a = set(), parent[k]
        while a >= 0:
            anc.add(node(a))
            a = parent[a]
        if got[node(k)] != anc:
            return False
    return True


def neardup_clusters(docs_path: str) -> set:
    """DuckDB running the program's own oracle SQL
    (``dedup.neardup_clusters_sql``) over the same documents. Its LSH-pair
    CTE is materialized first: DuckDB inlines CTEs, and would otherwise
    recompute the MinHash pipeline in every recursion step (~10x slower,
    same rows)."""
    from rify_spark.ops.dedup import lsh_candidate_pairs_sql, neardup_clusters_sql

    con = _duck()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    pairs_sql = lsh_candidate_pairs_sql("documents")
    con.execute(f"CREATE TEMP TABLE lsh_pairs AS {pairs_sql}")
    sql = neardup_clusters_sql("documents")
    if pairs_sql not in sql:
        raise RuntimeError("neardup_clusters_sql no longer embeds lsh_candidate_pairs_sql")
    rows = con.execute(sql.replace(pairs_sql, "SELECT * FROM lsh_pairs")).fetchall()
    con.close()
    return {tuple(int(x) for x in r) for r in rows}


def check_rows(path: str, expected: set, cols: list, skew: int = 0) -> bool:
    t = pq.read_table(path, columns=cols)
    got = set(zip(*(t.column(c).to_pylist() for c in cols)))
    return t.num_rows == len(expected) + skew and got == expected


# KG_PIPELINE_SQL (__spark_entry__.py) generalised from 3 repos x 4 modules
# to R x M: R*M*(M+1)/2 + R*M + (R-1)*M depends_on quads.
KG_DERIVED_SQL = """
    WITH mods AS (
      SELECT r.range AS r, m.range AS m,
             'repo://repo_' || r.range || '/src/mod_' || m.range || '.py' AS iri,
             'graph://repo_' || r.range AS g
      FROM range({R}) r, range({M}) m
    )
    SELECT a.iri AS s, 'depends_on' AS p, b.iri AS o, a.g AS g
    FROM mods a JOIN mods b ON a.r = b.r AND a.m >= b.m
    UNION ALL
    SELECT iri AS s, 'depends_on' AS p, 'mod://os' AS o, g FROM mods
    UNION ALL
    SELECT iri AS s, 'depends_on' AS p, 'mod://repo_' || (r - 1) || '.mod_0' AS o, g
    FROM mods WHERE r > 0
"""


def kg_derived(n_repos: int, n_modules: int) -> set:
    con = _duck()
    rows = con.execute(KG_DERIVED_SQL.format(R=n_repos, M=n_modules)).fetchall()
    con.close()
    return {tuple(r) for r in rows}


class LiveModel:
    """Closed form of the live store (scripts/retract_soak.py): with
    alive[k] := edge k present or a shortcut premise at k,
    anc[k] = alive[k] ? 1 + anc[parent[k]] : 0, the store holds the
    surviving parent premises plus sum(anc) ancestor pairs (shortcut
    premises are ancestor pairs of their own link)."""

    def __init__(self, parent: np.ndarray, query_root: int):
        self.parent = parent
        self.root = query_root
        self.edge = np.zeros(len(parent), dtype=bool)
        self.shortcut = np.zeros(len(parent), dtype=bool)

    def insert(self, ids, shortcut_ids) -> None:
        self.edge[ids] = True
        self.shortcut[shortcut_ids] = True

    def retract(self, ids) -> None:
        self.edge[ids] = False

    def totals(self) -> tuple:
        """(parent premises, shortcut premises, ancestor pairs, descendants
        of the query root)."""
        alive = self.edge | self.shortcut
        anc = np.zeros(len(self.parent), dtype=np.int64)
        below = np.zeros(len(self.parent), dtype=bool)
        par = self.parent
        for k in np.flatnonzero(alive):  # ascending: parents come first
            p = par[k]
            anc[k] = 1 + anc[p]
            below[k] = p == self.root or below[p]
        return int(self.edge.sum()), int(self.shortcut.sum()), int(anc.sum()), int(below.sum())
