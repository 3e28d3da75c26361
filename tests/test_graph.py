"""Graph analytics: integer-exact PageRank and degree-oriented triangle
counts (hand-computed oracles; the DuckDB twins are exercised by
tests/test_entry.py's gate sweep)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rify_spark.ops.graph import (  # noqa: E402
    PR_UNIT,
    pagerank,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, o) for s, o in pairs], "s string, o string"
    )


def _ranks(df):
    return {r.node: r.rank for r in df.collect()}


def test_pagerank_two_cycle_is_stationary(spark):
    # a <-> b is already the stationary distribution: rank stays at UNIT
    r = _ranks(pagerank(_edges(spark, [("a", "b"), ("b", "a")]), iters=3))
    assert r == {"a": PR_UNIT, "b": PR_UNIT}


def test_pagerank_chain_hand_computed(spark):
    # a -> b, integer semantics: r1(a)=150000, r1(b)=1000000,
    # r2(b)=150000+(85*150000)//100=277500, then stationary
    r = _ranks(pagerank(_edges(spark, [("a", "b")]), iters=3))
    assert r == {"a": 150_000, "b": 277_500}


def test_pagerank_split_contribution_uses_integer_div(spark):
    # a -> b and a -> c: each side gets rank div 2 (exact floor division)
    r = _ranks(pagerank(_edges(spark, [("a", "b"), ("a", "c")]), iters=1))
    assert r["a"] == 150_000
    assert r["b"] == r["c"] == 150_000 + (85 * (PR_UNIT // 2)) // 100


def test_triangles_k4(spark):
    # complete graph on 4 nodes: 4 triangles, every node in exactly 3
    nodes = ["a", "b", "c", "d"]
    pairs = [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1:]]
    out = {r.node: r.triangles for r in triangle_counts(_edges(spark, pairs)).collect()}
    assert out == {n: 3 for n in nodes}


def test_triangles_direction_and_duplicates_collapse(spark):
    # (a,b) listed both ways + duplicated, self-loop ignored: one triangle
    pairs = [
        ("a", "b"), ("b", "a"), ("a", "b"),
        ("b", "c"), ("c", "a"), ("a", "a"),
    ]
    out = {r.node: r.triangles for r in triangle_counts(_edges(spark, pairs)).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_triangles_star_is_zero(spark):
    # hub-and-spoke has no triangles; also exercises the skew case the
    # degree orientation exists for (the hub never fans out in the wedge)
    pairs = [("hub", f"leaf{i}") for i in range(20)]
    assert triangle_counts(_edges(spark, pairs)).count() == 0


def test_triangle_wedges_oriented_from_low_degree(spark):
    """The wedge join fans out only from each edge's LOWER-degree endpoint:
    with a hub of degree n and leaves of degree <= 3, wedge rows stay
    O(n), not O(n^2) — assert via the exact wedge count on a wheel."""
    # wheel: hub connected to all leaves + leaf cycle
    n = 12
    pairs = [("hub", f"l{i}") for i in range(n)]
    pairs += [(f"l{i}", f"l{(i + 1) % n}") for i in range(n)]
    out = {r.node: r.triangles for r in triangle_counts(_edges(spark, pairs)).collect()}
    # each cycle edge closes one triangle with the hub: n triangles,
    # hub in all n, each leaf in 2 (left and right neighbor)
    assert out["hub"] == n
    assert all(out[f"l{i}"] == 2 for i in range(n))


# --- BFS hop distances -------------------------------------------------------


def test_bfs_levels_min_distance_and_reachability(spark):
    from rify_spark.ops.graph import bfs_levels

    # a -> b -> c -> d plus a shortcut a -> c; e is unreachable, and
    # f -> a shows reverse edges are not followed
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("f", "a")],
        "s string, o string",
    )
    src = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in bfs_levels(edges, src).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_levels_multi_source_and_cap(spark):
    from rify_spark.ops.graph import bfs_levels

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "s string, o string"
    )
    src = spark.createDataFrame([("n0",), ("n4",)], "node string")
    got = {
        r["node"]: r["dist"] for r in bfs_levels(chain, src).collect()
    }
    # each node takes its NEAREST source
    assert got["n5"] == 1 and got["n3"] == 3 and got["n4"] == 0
    # the max_iter guard never truncates: level 3 still reaches n3
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        bfs_levels(
            chain,
            spark.createDataFrame([("n0",)], "node string"),
            max_iter=2,
        )


def _path(spark, n, weight=None):
    rows = [
        (f"n{i}", f"n{i + 1}") + (() if weight is None else (weight,))
        for i in range(n)
    ]
    schema = "s string, o string" + ("" if weight is None else ", w int")
    return spark.createDataFrame(rows, schema), spark.createDataFrame(
        [("n0",)], "node string"
    )


def test_bfs_levels_nonconvergence_raises_not_partial(spark):
    # an 8-edge path needs 8 levels: a 5-level budget must raise, never
    # return the first 5 levels; with the budget at the depth it matches
    # the closed form dist(n_i) = i
    import pytest

    from rify_spark.ops.graph import bfs_levels

    edges, src = _path(spark, 8)
    with pytest.raises(RuntimeError, match="bfs_levels did not converge"):
        bfs_levels(edges, src, max_iter=5)
    got = {r["node"]: r["dist"] for r in bfs_levels(edges, src, max_iter=8).collect()}
    assert got == {f"n{i}": i for i in range(9)}


def test_sssp_nonconvergence_raises_not_partial(spark):
    # an 8-edge weight-3 path improves one node per round: a 5-round
    # budget must raise; with the budget at the depth dist(n_i) = 3i
    import pytest

    from rify_spark.ops.graph import sssp_distances

    edges, src = _path(spark, 8, weight=3)
    with pytest.raises(RuntimeError, match="sssp_distances did not converge"):
        sssp_distances(edges, src, max_iter=5)
    got = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, src, max_iter=8).collect()
    }
    assert got == {f"n{i}": 3 * i for i in range(9)}


def test_sssp_min_plus_beats_hop_count(spark):
    from rify_spark.ops.graph import sssp_distances

    # a -> b cheap via two hops (1+1) vs one expensive direct hop (5);
    # d unreachable; a zero-weight edge terminates (equal dist is not
    # an improvement); negative weights are dropped
    edges = spark.createDataFrame(
        [
            ("a", "m", 1), ("m", "b", 1), ("a", "b", 5),
            ("b", "b2", 0), ("b2", "b", 0),
            ("x", "d", 2), ("a", "bad", -7),
        ],
        "s string, o string, w int",
    )
    src = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, src).collect()
    }
    assert got == {"a": 0, "m": 1, "b": 2, "b2": 2}


def test_sssp_multi_source_takes_nearest(spark):
    from rify_spark.ops.graph import sssp_distances

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 10) for i in range(6)],
        "s string, o string, w int",
    )
    src = spark.createDataFrame([("n0",), ("n4",)], "node string")
    got = {
        r["node"]: r["dist"]
        for r in sssp_distances(chain, src).collect()
    }
    assert got["n5"] == 10 and got["n3"] == 30 and got["n4"] == 0


# --- k-core ------------------------------------------------------------------

from rify_spark.ops.graph import kcore  # noqa: E402


def _cores(df):
    return {r.node: r.deg for r in df.collect()}


def test_kcore_triangle_with_tail(spark):
    # triangle a-b-c survives as the 2-core; the tail c-d-e peels in
    # two layers (e first, then d)
    ed = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
    )
    assert _cores(kcore(ed, 2)) == {"a": 2, "b": 2, "c": 2}


def test_kcore_degrees_are_core_internal(spark):
    # b's raw degree is 3, but inside the 2-core (the square) it is 2:
    # the pendant edge's loss must be subtracted exactly once
    ed = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "x")],
    )
    got = _cores(kcore(ed, 2))
    assert got == {"a": 2, "b": 2, "c": 2, "d": 2}


def test_kcore_cascading_peel_empties_tree(spark):
    # a path peels layer by layer from both ends to nothing
    ed = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert _cores(kcore(ed, 2)) == {}


def test_kcore_3core_of_k4_plus_fringe(spark):
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    fringe = [("d", "e"), ("e", "f"), ("e", "g"), ("f", "g")]
    got = _cores(kcore(_edges(spark, k4 + fringe), 3))
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_direction_duplicates_selfloops_collapse(spark):
    # duplicated/reversed edges and self-loops count once/never
    ed = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
         ("b", "c"), ("c", "a")],
    )
    assert _cores(kcore(ed, 2)) == {"a": 2, "b": 2, "c": 2}


def test_kcore_nonconvergence_raises_not_wrong(spark):
    # a 7-node path at k=2 peels one layer per round from each end (3
    # rounds to empty); with max_iter=1 the table still holds deg<2 nodes
    # — that is NOT a 2-core and must raise, never return
    import pytest

    path7 = [(f"n{i}", f"n{i+1}") for i in range(6)]
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(_edges(spark, path7), 2, max_iter=1)
    # the same graph converges fine with the budget restored (to empty)
    assert _cores(kcore(_edges(spark, path7), 2)) == {}


def test_kcore_k1_drops_isolated_only(spark):
    ed = _edges(spark, [("a", "b"), ("c", "c")])  # self-loop == isolated
    assert _cores(kcore(ed, 1)) == {"a": 1, "b": 1}


def test_kcore_rejects_k0(spark):
    import pytest

    with pytest.raises(ValueError, match="k >= 1"):
        kcore(_edges(spark, [("a", "b")]), 0)


# --- degree histogram --------------------------------------------------------

from rify_spark.ops.graph import degree_histogram  # noqa: E402


def test_degree_histogram_log2_buckets(spark):
    # hub h has degree 4 (bucket 2); x gets degree 2 (bucket 1) via the
    # extra edge; the remaining leaves sit at degree 1 (bucket 0)
    ed = _edges(
        spark,
        [("h", "a"), ("h", "b"), ("h", "c"), ("h", "x"), ("x", "a")],
    )
    got = {r.bucket: r.n_nodes for r in degree_histogram(ed).collect()}
    assert got == {2: 1, 1: 2, 0: 2}


def test_degree_histogram_power_boundaries_exact(spark):
    # degrees 1,2,3,4 land in buckets 0,1,1,2 — integer bit-length, no
    # float log at the 2^k boundaries
    pairs = []
    for i, d in enumerate((1, 2, 3, 4)):
        pairs += [(f"n{i}", f"leaf{i}_{j}") for j in range(d)]
    got = {r.bucket: r.n_nodes for r in degree_histogram(_edges(spark, pairs)).collect()}
    # leaves all have degree 1 -> bucket 0 (10 leaves + n0)
    assert got[1] == 2 and got[2] == 1 and got[0] == 11
