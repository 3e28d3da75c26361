"""Property-based randomized parity against an independent Python oracle.

The reference engine (src/reasoner.rs:120-227) is a tuple-at-a-time
backtracking forward chainer; the Spark engine is set-at-a-time joins with
semi-naive deltas, join-order heuristics, hash encoding and anti-join
dedup. Hand-written vectors exercise the paths we thought of; these
Hypothesis tests generate random rule sets and fact sets over a small
constant alphabet (dense accidental joins, multi-head rules, empty bodies,
repeated variables, non-ASCII terms) and require EXACT agreement with
``_naive_closure`` — a ~20-line backtracking evaluator written directly
from the semantics, sharing no code with the engine.

Three properties:
  1. infer == naive closure minus premises (both encode paths);
  2. prove on any derivable quad yields a proof that ``validate`` replays:
     assumptions ⊆ premises ∪ unconditional heads, goal ∈ implied ∪ assumed
     (the reference's soundness contract, src/validate.rs:13-19);
  3. DRed retraction of a random premise subset lands on exactly the
     naive closure of the surviving premises (streaming/retract.py's
     gold-standard contract, checked against the INDEPENDENT oracle, not
     the repo's own batch engine).

``derandomize=True`` keeps the gate deterministic run-to-run; example
counts are small because each example is a full Spark fixpoint (~2-4 s).
For a deeper one-off sweep set ``RIFY_PROP_EXAMPLES_SCALE=N``: example
counts multiply by N and derandomization turns OFF so fresh random inputs
are explored (used as an out-of-band fuzz pass, not in the CI gate).
"""

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from rify_spark import Bound as B, InferConfig, Rule, Unbound as U, infer
from rify_spark.api import prove
from rify_spark.errors import ExhaustedSearchSpace
from rify_spark.streaming import IncrementalReasoner
from rify_spark.validate import validate

# Small alphabet => dense collisions between rules and facts. The last
# constant stresses the dictionary path (non-ASCII, mixed script).
CONSTS = ("c0", "c1", "c2", "p", "q", "ß-混合")
VARS = ("x", "y", "z")
SCHEMA = "s string, p string, o string, g string"

_SCALE = max(1, int(os.environ.get("RIFY_PROP_EXAMPLES_SCALE", "1")))
_SETTINGS = dict(
    derandomize=_SCALE == 1,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)


# the independent oracle lives in rify_spark.reference (shared with the
# randomized soaks): a naive backtracking forward chainer, no engine code
from rify_spark.reference import naive_closure as _naive_closure  # noqa: E402


# ---------------------------------------------------------------------------
# strategies
# ---------------------------------------------------------------------------

def _atom(slot_pool):
    return st.tuples(*[st.sampled_from(slot_pool) for _ in range(4)])


@st.composite
def rule_st(draw):
    """A range-restricted rule: body drawn over vars+consts, head slots
    restricted to constants and the body's own variables."""
    body_pool = [U(v) for v in VARS] + [B(c) for c in CONSTS]
    body = draw(st.lists(_atom(body_pool), min_size=0, max_size=2))
    body_vars = {e.value for a in body for e in a if e.is_var}
    head_pool = [B(c) for c in CONSTS] + [U(v) for v in sorted(body_vars)]
    head = draw(st.lists(_atom(head_pool), min_size=1, max_size=2))
    return Rule.create([list(a) for a in body], [list(a) for a in head])


rules_st = st.lists(rule_st(), min_size=1, max_size=3)
facts_st = st.lists(
    st.tuples(*[st.sampled_from(CONSTS) for _ in range(4)]),
    min_size=0,
    max_size=15,
).map(lambda fs: sorted(set(fs)))


# ---------------------------------------------------------------------------
# properties
# ---------------------------------------------------------------------------

@settings(max_examples=10 * _SCALE, **_SETTINGS)
@given(facts=facts_st, rules=rules_st)
def test_infer_matches_naive_oracle(spark, facts, rules):
    got = infer(spark, facts, rules)
    want = sorted(_naive_closure(facts, rules) - set(facts))
    assert got == want


@settings(max_examples=5 * _SCALE, **_SETTINGS)
@given(facts=facts_st, rules=rules_st, data=st.data())
def test_prove_validate_roundtrip(spark, facts, rules, data):
    closure = _naive_closure(facts, rules)
    derived = sorted(closure - set(facts))
    if not derived:
        # nothing derivable: a known-term non-fact must be unprovable
        known = {t for q in facts for t in q} | {
            t for r in rules for t in r.bound_terms()
        }
        non_facts = sorted(
            q
            for q in ((s, p, o, g) for s in known for p in known
                      for o in known for g in known)
            if q not in closure
        )
        if not non_facts or not facts:
            return
        with pytest.raises(ExhaustedSearchSpace):
            prove(spark, facts, [non_facts[0]], rules)
        return
    goal = data.draw(st.sampled_from(derived), label="goal")
    proof = prove(spark, facts, [goal], rules)
    v = validate(rules, proof)
    # soundness: assumptions may only be premises (unconditional heads are
    # implied by zero-assumption steps, so they land in ``implied``)
    assert v.assumed <= set(facts)
    assert goal in (v.implied | v.assumed)
    # every implied quad really is in the closure of the premises
    assert v.implied <= closure


@settings(max_examples=4 * _SCALE, **_SETTINGS)
@given(facts=facts_st, rules=rules_st, data=st.data())
def test_retraction_matches_naive_oracle(spark, facts, rules, data):
    if not facts:
        return
    retract = data.draw(
        st.lists(st.sampled_from(facts), unique=True, min_size=1), label="retract"
    )
    remaining = [q for q in facts if q not in set(retract)]
    # the store's sibling directories and layout record live next to it,
    # so the store goes one level down and the whole temp dir is removed
    base = tempfile.mkdtemp(prefix="rify-prop-")
    try:
        r = IncrementalReasoner(spark, rules, os.path.join(base, "store"))
        r.process_batch(spark.createDataFrame(facts, SCHEMA), 0)
        r.retract_batch(spark.createDataFrame(retract, SCHEMA))
        got = {tuple(row) for row in r.facts().collect()}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert got == _naive_closure(remaining, rules)


# ---------------------------------------------------------------------------
# fuzzy-dedup clustering: star-edge CC == components of the full pair graph
# ---------------------------------------------------------------------------

TOKENS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

docs_st = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=8),
    min_size=2,
    max_size=25,
)


@settings(max_examples=4 * _SCALE, **_SETTINGS)
@given(token_lists=docs_st)
def test_neardup_clusters_match_pair_graph_components(spark, token_lists):
    """Random tiny-vocabulary corpora (dense accidental near-dups): the
    star-edge clustering must equal connected components computed in pure
    Python over the FULL lsh_candidate_pairs graph — the equivalence the
    bucket-min star reduction claims."""
    from rify_spark.ops import dedup

    rows = [(i, "s", " ".join(toks)) for i, toks in enumerate(token_lists)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pairs = [(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(docs).collect()]
    # union-find over the pair graph
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for d in parent:
        comps.setdefault(find(d), set()).add(d)
    want = {
        (d, root, len(members))
        for root, members in comps.items()
        for d in members
    }
    got = {tuple(r) for r in dedup.neardup_clusters(docs).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# property 5: smart-TC strategy parity (the delegated fast path, both shapes)
# ---------------------------------------------------------------------------

def _tc_rules(shape):
    copy = Rule.create([[U("a"), B("parent"), U("b"), U("g")]],
                       [[U("a"), B("anc"), U("b"), U("g")]])
    if shape == "linear":
        body = [[U("a"), B("parent"), U("b"), U("g")],
                [U("b"), B("anc"), U("c"), U("g")]]
    elif shape == "nonlinear":
        body = [[U("a"), B("anc"), U("b"), U("g")],
                [U("b"), B("anc"), U("c"), U("g")]]
    else:  # nonlinear, swapped body-atom order
        body = [[U("b"), B("anc"), U("c"), U("g")],
                [U("a"), B("anc"), U("b"), U("g")]]
    return [copy, Rule.create(body, [[U("a"), B("anc"), U("c"), U("g")]])]


_TC_NODES = ("n0", "n1", "n2", "n3", "n4")
_tc_facts_st = st.tuples(
    st.sets(
        st.tuples(st.sampled_from(_TC_NODES), st.just("parent"),
                  st.sampled_from(_TC_NODES), st.sampled_from(("g0", "g1"))),
        min_size=0, max_size=8,
    ),
    # premise H-facts included: the round-1-subsumed regression (a seed
    # wavefront adding nothing novel) must keep composing
    st.sets(
        st.tuples(st.sampled_from(_TC_NODES), st.just("anc"),
                  st.sampled_from(_TC_NODES), st.sampled_from(("g0", "g1"))),
        min_size=0, max_size=4,
    ),
)


@settings(max_examples=6 * _SCALE, **_SETTINGS)
@given(facts=_tc_facts_st,
       shape=st.sampled_from(("linear", "nonlinear", "nonlinear_swapped")))
def test_smart_tc_matches_naive_oracle(spark, facts, shape):
    """Random cyclic graphs (parent edges ∪ premise anc facts, two graphs)
    through the pure TC pair must take the smart strategy and agree exactly
    with the independent oracle — including inputs with no parent facts at
    all, where round 1 inserts nothing."""
    from rify_spark.api import infer_df

    rules = _tc_rules(shape)
    quads = sorted(set(facts[0]) | set(facts[1]))
    df = spark.createDataFrame(quads, SCHEMA) if quads else (
        spark.createDataFrame([], SCHEMA)
    )
    derived, res = infer_df(spark, df, rules, InferConfig())
    assert res.metrics and res.metrics[0]["strategy"] == "smart_tc"
    got = sorted(map(tuple, derived.collect()))
    assert got == sorted(_naive_closure(quads, rules) - set(quads))


# ---------------------------------------------------------------------------
# property 6: graph analytics vs brute-force Python oracles
# ---------------------------------------------------------------------------

_GNODES = ("a", "b", "c", "d", "e", "f", "g", "h")
_edges_st = st.lists(
    st.tuples(st.sampled_from(_GNODES), st.sampled_from(_GNODES)),
    min_size=0, max_size=20,
)


@settings(max_examples=6 * _SCALE, **_SETTINGS)
@given(pairs=_edges_st)
def test_triangle_counts_match_bruteforce(spark, pairs):
    """Degree-oriented wedge-join triangles == brute-force enumeration of
    all 3-subsets over the undirected simple graph."""
    from itertools import combinations

    from rify_spark.ops.graph import triangle_counts

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for e in und for n in e})
    want: dict = {}
    for t in combinations(nodes, 3):
        if all(tuple(sorted(e)) in und for e in combinations(t, 2)):
            for n in t:
                want[n] = want.get(n, 0) + 1
    df = spark.createDataFrame(
        [(s, o) for s, o in pairs] or [(None, None)], "s string, o string"
    ).dropna()
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert got == want


@settings(max_examples=6 * _SCALE, **_SETTINGS)
@given(pairs=_edges_st)
def test_pagerank_integer_tracks_float_reference(spark, pairs):
    """The BIGINT micro-unit PageRank must track an independent float
    implementation of the same (no-dangling-redistribution) recurrence to
    within the accumulated floor-division error."""
    from rify_spark.ops.graph import PR_ITERS, pagerank

    edges = [(s, o) for s, o in pairs if True]
    if not edges:
        return
    nodes = sorted({n for e in edges for n in e})
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: 1.0 for n in nodes}
    for _ in range(PR_ITERS):
        contrib = {n: 0.0 for n in nodes}
        for s, o in edges:
            contrib[o] += r[s] / outdeg[s]
        r = {n: 0.15 + 0.85 * contrib[n] for n in nodes}
    df = spark.createDataFrame(edges, "s string, o string")
    got = {row.node: row.rank for row in pagerank(df).collect()}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] / 1_000_000 - r[n]) < 0.01, (n, got[n], r[n])


# ---------------------------------------------------------------------------
# property 7: N-Quads parse vs an independent Python serializer
# ---------------------------------------------------------------------------

_LIT_CHARS = st.text(
    alphabet=st.sampled_from('ab "\\\n\r\tßπ._:<>@^'), max_size=12
)
_IRI_SAFE = st.text(
    alphabet=st.sampled_from("abcXYZ019:/._-#%?ß"), min_size=1, max_size=12
)


def _py_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    )


@settings(max_examples=8 * _SCALE, **_SETTINGS)
@given(rows=st.lists(st.tuples(_IRI_SAFE, _IRI_SAFE, _LIT_CHARS), min_size=1, max_size=6))
def test_nquads_literal_parse_matches_python_escaper(spark, rows):
    """Lines built by an INDEPENDENT Python escaper (str.replace, sharing
    nothing with the engine's sentinel replace-chain) must parse back to
    the original raw values."""
    from rify_spark.rdf import parse_nquads

    lines = [
        ('<%s> <%s> "%s" .' % (s, p, _py_escape(lit)),)
        for s, p, lit in rows
    ]
    out = parse_nquads(
        spark.createDataFrame(lines, "value string")
    ).collect()
    assert all(not r.malformed for r in out)
    got = sorted((r.s, r.p, r.o) for r in out)
    want = sorted((s, p, lit) for s, p, lit in rows)
    assert got == want


# ---------------------------------------------------------------------------
# property 8: SPARQL BGP evaluation vs a brute-force unification oracle
# ---------------------------------------------------------------------------

_SPQ_TERMS = ("t0", "t1", "t2")
_SPQ_GRAPHS = ("g0", "g1")
_spq_quads_st = st.lists(
    st.tuples(
        st.sampled_from(_SPQ_TERMS), st.sampled_from(("p0", "p1")),
        st.sampled_from(_SPQ_TERMS), st.sampled_from(_SPQ_GRAPHS),
    ),
    min_size=0, max_size=12,
)
# an atom slot: a variable (x/y/z) or a constant drawn from the alphabet
_spq_slot = st.one_of(
    st.sampled_from(["?x", "?y", "?z"]),
    st.sampled_from(list(_SPQ_TERMS)),
)
_spq_atoms_st = st.lists(
    st.tuples(
        _spq_slot,
        st.one_of(st.sampled_from(["?p"]), st.sampled_from(["p0", "p1"])),
        _spq_slot,
        st.sampled_from(list(_SPQ_GRAPHS) + ["?g"]),
    ),
    min_size=1, max_size=3,
)


def _spq_bruteforce(quads, atoms):
    """All variable assignments satisfying the conjunction — direct
    backtracking over the quad list, no engine code."""
    sols = [dict()]
    for atom in atoms:
        nxt = []
        for env in sols:
            for q in quads:
                e = dict(env)
                ok = True
                for slot, val in zip(atom, q):
                    if slot.startswith("?"):
                        if e.get(slot, val) != val:
                            ok = False
                            break
                        e[slot] = val
                    elif slot != val:
                        ok = False
                        break
                if ok:
                    nxt.append(e)
        sols = nxt
    return sols


@settings(max_examples=10 * _SCALE, **_SETTINGS)
@given(quads=_spq_quads_st, atoms=_spq_atoms_st)
def test_sparql_bgp_matches_bruteforce(spark, quads, atoms):
    from rify_spark.sparql import sparql_select

    # dedupe the quad store: with duplicate store rows a fully-constant
    # atom is a limit-1 existence gate in the engine (set semantics)
    # while the brute force would multiply — distinct input makes both
    # sides agree on multiplicities everywhere
    quads = sorted(set(quads))
    varnames = sorted(
        {s[1:] for a in atoms for s in a if s.startswith("?")}
    )
    if not varnames:
        return  # fully-constant query: covered by the ASK/gate tests
    # wrap each atom in its graph context
    parts = []
    for a in atoms:
        terms = " ".join(
            s if s.startswith("?") else f"<{s}>" for s in a[:3]
        )
        g = a[3]
        if g.startswith("?"):
            parts.append(f"GRAPH {g} {{ {terms} }}")
        else:
            parts.append(f"GRAPH <{g}> {{ {terms} }}")
    q = "SELECT {} WHERE {{ {} }}".format(
        " ".join("?" + v for v in varnames), " ".join(parts)
    )
    df = spark.createDataFrame(
        quads or [("x", "x", "x", "x")], SCHEMA
    )
    if not quads:
        df = df.limit(0)
    got = sorted(tuple(r) for r in sparql_select(df, q).collect())
    want = sorted(
        tuple(e.get("?" + v) for v in varnames)
        for e in _spq_bruteforce(quads, atoms)
    )
    assert got == want


# --- SPARQL aggregates vs a pure-Python groupby -------------------------------

_agg_obj_pool = ("1", "2", "30", "-4", "x", "t0")
_agg_quads_st = st.lists(
    st.tuples(
        st.sampled_from(_SPQ_TERMS),
        st.sampled_from(["p0", "p1"]),
        st.sampled_from(_agg_obj_pool),
        st.sampled_from(_SPQ_GRAPHS),
    ),
    min_size=0, max_size=14,
)


def _py_long(t):
    """try_cast(.. as long) twin: optional sign + digits, else None."""
    import re as _re

    return int(t) if _re.fullmatch(r"-?\d+", t) else None


@settings(max_examples=8 * _SCALE, **_SETTINGS)
@given(quads=_agg_quads_st, g=st.sampled_from(_SPQ_GRAPHS))
def test_sparql_aggregates_match_python_groupby(spark, quads, g):
    from rify_spark.sparql import sparql_select

    quads = sorted(set(quads))
    q = (
        "SELECT ?s (COUNT(?o) AS ?n) (COUNT(DISTINCT ?o) AS ?d) "
        "(SUM(?o) AS ?sum) (MIN(?o) AS ?lo) (MAX(?o) AS ?hi) WHERE "
        f"{{ GRAPH <{g}> {{ ?s <p0> ?o }} }} GROUP BY ?s"
    )
    df = spark.createDataFrame(quads or [("x", "x", "x", "x")], SCHEMA)
    if not quads:
        df = df.limit(0)
    got = sorted(tuple(r) for r in sparql_select(df, q).collect())
    groups = {}
    for s, p, o, gg in quads:
        if p == "p0" and gg == g:
            groups.setdefault(s, []).append(o)
    want = sorted(
        (
            s,
            len(os_),
            len(set(os_)),
            (lambda v: sum(v) if v else None)(
                [x for x in map(_py_long, os_) if x is not None]
            ),
            min(os_),
            max(os_),
        )
        for s, os_ in groups.items()
    )
    assert got == want


# --- SPARQL path expressions vs a pure-Python edge algebra --------------------

def _path_ast_st():
    leaf = st.sampled_from(["p0", "p1"]).map(lambda p: ("pred", p))
    return st.recursive(
        leaf,
        lambda kids: st.one_of(
            kids.map(lambda k: ("inv", k)),
            kids.map(lambda k: ("plus", k)),
            kids.map(lambda k: ("star", k)),
            kids.map(lambda k: ("opt", k)),
            st.tuples(kids, kids).map(lambda ab: ("seq", *ab)),
            st.tuples(kids, kids).map(lambda ab: ("alt", *ab)),
        ),
        max_leaves=4,
    )


def _path_text(node):
    kind = node[0]
    if kind == "pred":
        return f"<{node[1]}>"
    if kind == "inv":
        return f"(^{_path_text(node[1])})"
    if kind == "plus":
        return f"({_path_text(node[1])}+)"
    if kind == "star":
        return f"({_path_text(node[1])}*)"
    if kind == "opt":
        return f"({_path_text(node[1])}?)"
    a, b = node[1], node[2]
    op = "/" if kind == "seq" else "|"
    return f"({_path_text(a)}{op}{_path_text(b)})"


def _py_path(node, quads):
    """Independent edge-algebra evaluator over (s, o) pairs (the quads
    are already graph-scoped): mirrors the documented path semantics."""
    kind = node[0]
    if kind == "pred":
        return {(s, o) for s, p, o, _g in quads if p == node[1]}
    if kind == "inv":
        return {(o, s) for s, o in _py_path(node[1], quads)}
    if kind == "seq":
        a, b = _py_path(node[1], quads), _py_path(node[2], quads)
        return {(s, o2) for s, o in a for s2, o2 in b if o == s2}
    if kind == "alt":
        return _py_path(node[1], quads) | _py_path(node[2], quads)
    ident = {
        (n, n)
        for s, _p, o, _g in quads
        for n in (s, o)
    }
    if kind == "opt":
        return _py_path(node[1], quads) | ident
    closure = set(_py_path(node[1], quads))
    while True:
        nxt = closure | {
            (s, o2) for s, o in closure for s2, o2 in closure if o == s2
        }
        if nxt == closure:
            break
        closure = nxt
    if kind == "star":
        return closure | ident
    return closure  # plus


@settings(max_examples=6 * _SCALE, **_SETTINGS)
@given(
    quads=_agg_quads_st,
    ast=_path_ast_st(),
    g=st.sampled_from(_SPQ_GRAPHS),
)
def test_sparql_path_expressions_match_python_algebra(spark, quads, ast, g):
    from rify_spark.sparql import sparql_select

    quads = sorted(set(quads))
    scoped = [q for q in quads if q[3] == g]
    q = f"SELECT ?x ?y WHERE {{ GRAPH <{g}> {{ ?x {_path_text(ast)} ?y }} }}"
    df = spark.createDataFrame(quads or [("x", "x", "x", "x")], SCHEMA)
    if not quads:
        df = df.limit(0)
    got = sorted(tuple(r) for r in sparql_select(df, q).collect())
    want = sorted(_py_path(ast, scoped))
    assert got == want


# --- SPARQL compatible-mappings joins vs a pure-Python algebra ---------------
# Random three-element groups (BGP + OPTIONAL/UNION + BGP/MINUS) whose
# shared variables may be possibly-unbound, pinned against a direct
# implementation of the spec's §18.5 operators over mapping dicts that
# contain ONLY bound vars (so domain/compatibility semantics are literal).

_CJ_VALS = ("a", "b", "c")
_CJ_PREDS = ("p0", "p1")
_CJ_GRAPHS = ("g0", "g1")
_cj_slot = st.sampled_from(("?x", "?y", "?z") + _CJ_VALS)
_cj_atom_st = st.tuples(
    _cj_slot,
    st.sampled_from(("?p",) + _CJ_PREDS),
    _cj_slot,
    st.sampled_from(("?g",) + _CJ_GRAPHS),
)
_cj_quads_st = st.lists(
    st.tuples(
        st.sampled_from(_CJ_VALS),
        st.sampled_from(_CJ_PREDS),
        st.sampled_from(_CJ_VALS),
        st.sampled_from(_CJ_GRAPHS),
    ),
    min_size=0,
    max_size=8,
)


def _cj_vars(atom):
    return {s for s in atom if s.startswith("?")}


def _cj_atom_sols(quads, atom):
    out = []
    for q in quads:
        e, ok = {}, True
        for slot, val in zip(atom, q):
            if slot.startswith("?"):
                if e.get(slot, val) != val:
                    ok = False
                    break
                e[slot] = val
            elif slot != val:
                ok = False
                break
        if ok:
            out.append(e)
    return out


def _cj_compatible(m1, m2):
    return all(m1[k] == m2[k] for k in m1.keys() & m2.keys())


def _cj_join(A, B):
    return [
        {**a, **b} for a in A for b in B if _cj_compatible(a, b)
    ]


def _cj_leftjoin(A, B):
    out = []
    for a in A:
        ms = [{**a, **b} for b in B if _cj_compatible(a, b)]
        out.extend(ms or [a])
    return out


def _cj_minus(A, B):
    # spec §18.5 Minus: remove only on compatible AND intersecting domains
    return [
        a
        for a in A
        if not any(
            _cj_compatible(a, b) and (a.keys() & b.keys()) for b in B
        )
    ]


def _cj_text(atom):
    s, p, o, g = (
        t if t.startswith("?") else f"<{t}>" for t in atom
    )
    gg = atom[3] if atom[3].startswith("?") else f"<{atom[3]}>"
    return f"GRAPH {gg} {{ {s} {p} {o} }}"


@settings(max_examples=6 * _SCALE, **_SETTINGS)
@given(
    quads=_cj_quads_st,
    a1=_cj_atom_st,
    a2=_cj_atom_st,
    a3=_cj_atom_st,
    shape=st.sampled_from(
        ["optional_join", "union_join", "optional_minus"]
    ),
)
def test_sparql_compat_joins_match_python_algebra(
    spark, quads, a1, a2, a3, shape
):
    from hypothesis import assume

    from rify_spark.sparql import sparql_select

    quads = sorted(set(quads))
    v1, v2, v3 = _cj_vars(a1), _cj_vars(a2), _cj_vars(a3)
    assume(v1)  # engine existence-gates a fully-constant first element
    if shape == "optional_join":
        assume(v1 & v2)  # OPTIONAL must share a var with its group
        body = f"{_cj_text(a1)} OPTIONAL {{ {_cj_text(a2)} }} {_cj_text(a3)}"
        sel = sorted(v1 | v2 | v3)
        assume(v3)  # a constant third element is an existence gate
    elif shape == "union_join":
        body = (
            f"{{ {_cj_text(a1)} }} UNION {{ {_cj_text(a2)} }} {_cj_text(a3)}"
        )
        sel = sorted(v1 | v2 | v3)
        assume(v2 and v3)
    else:
        assume(v1 & v2)
        body = f"{_cj_text(a1)} OPTIONAL {{ {_cj_text(a2)} }} MINUS {{ {_cj_text(a3)} }}"
        sel = sorted(v1 | v2)
    q = "SELECT {} WHERE {{ {} }}".format(" ".join(sel), body)
    s1 = _cj_atom_sols(quads, a1)
    s2 = _cj_atom_sols(quads, a2)
    s3 = _cj_atom_sols(quads, a3)
    if shape == "optional_join":
        want_maps = _cj_join(_cj_leftjoin(s1, s2), s3)
    elif shape == "union_join":
        want_maps = _cj_join(s1 + s2, s3)
    else:
        want_maps = _cj_minus(_cj_leftjoin(s1, s2), s3)
    want = sorted(
        tuple(m.get(v, "") for v in sel) for m in want_maps
    )
    df = spark.createDataFrame(quads or [("x", "x", "x", "x")], SCHEMA)
    if not quads:
        df = df.limit(0)
    got = sorted(
        tuple(v if v is not None else "" for v in r)
        for r in sparql_select(df, q).collect()
    )
    assert got == want


# --- SPARQL BIND expressions vs a pure-Python evaluator -----------------------

# values chosen so numeric casts exercise success, sign, leading zeros,
# empty string and non-numeric lexemes — all ASCII so Java and Python
# upper/lower/length agree exactly
_expr_vals = ("1", "-2", "030", "x", "t0", "")


def _expr_ast_st():
    leaf = st.one_of(
        st.just(("var", "va")),
        st.just(("var", "vb")),
        st.sampled_from(_expr_vals).map(lambda v: ("const", v)),
        st.integers(0, 40).map(lambda n: ("num", n)),
    )

    def extend(ch):
        return st.one_of(
            st.tuples(st.just("arith"), st.sampled_from("+-"), ch, ch),
            st.tuples(
                st.just("fn1"),
                st.sampled_from(["STR", "UCASE", "LCASE", "STRLEN"]),
                ch,
            ),
            st.tuples(st.just("concat"), st.lists(ch, min_size=1, max_size=3)),
            st.tuples(
                st.just("coalesce"), st.lists(ch, min_size=1, max_size=3)
            ),
            st.tuples(
                st.just("substr"), ch, st.integers(1, 4), st.integers(0, 4)
            ),
        )

    return st.recursive(leaf, extend, max_leaves=6)


def _expr_text(n):
    k = n[0]
    if k == "var":
        return "?" + n[1]
    if k == "const":
        return f'"{n[1]}"'
    if k == "num":
        return str(n[1])
    if k == "arith":
        return f"({_expr_text(n[2])} {n[1]} {_expr_text(n[3])})"
    if k == "fn1":
        return f"{n[1]}({_expr_text(n[2])})"
    if k == "concat":
        return "CONCAT(%s)" % ", ".join(_expr_text(c) for c in n[1])
    if k == "coalesce":
        return "COALESCE(%s)" % ", ".join(_expr_text(c) for c in n[1])
    return f"SUBSTR({_expr_text(n[1])}, {n[2]}, {n[3]})"


def _expr_py(n, env):
    """Independent evaluator: SPARQL error-semantics as None propagation,
    numeric context as strict base-10 int parse (try_cast BIGINT)."""
    k = n[0]
    if k == "var":
        return env.get(n[1])
    if k == "const":
        return n[1]
    if k == "num":
        return str(n[1])
    if k == "arith":
        lo, ro = _num_py(n[2], env), _num_py(n[3], env)
        if lo is None or ro is None:
            return None
        return str(lo + ro if n[1] == "+" else lo - ro)
    if k == "fn1":
        v = _expr_py(n[2], env)
        if v is None:
            return None
        return {
            "STR": v, "UCASE": v.upper(), "LCASE": v.lower(),
            "STRLEN": str(len(v)),
        }[n[1]]
    if k == "concat":
        parts = [_expr_py(c, env) for c in n[1]]
        if any(p is None for p in parts):
            return None
        return "".join(parts)
    if k == "coalesce":
        for c in n[1]:
            v = _expr_py(c, env)
            if v is not None:
                return v
        return None
    v = _expr_py(n[1], env)  # substr
    if v is None:
        return None
    return v[n[2] - 1 : n[2] - 1 + n[3]]


def _num_py(n, env):
    if n[0] == "num":
        return n[1]
    if n[0] == "arith":
        lo, ro = _num_py(n[2], env), _num_py(n[3], env)
        if lo is None or ro is None:
            return None
        return lo + ro if n[1] == "+" else lo - ro
    v = _expr_py(n, env)
    if v is None:
        return None
    try:
        return int(v, 10)
    except ValueError:
        return None


_expr_data_st = st.tuples(
    st.dictionaries(
        st.sampled_from(["k0", "k1", "k2"]),
        st.sampled_from(_expr_vals),
        max_size=3,
    ),
    st.dictionaries(
        st.sampled_from(["k0", "k1", "k2"]),
        st.sampled_from(_expr_vals),
        max_size=3,
    ),
)


@settings(max_examples=10 * _SCALE, **_SETTINGS)
@given(data=_expr_data_st, ast=_expr_ast_st())
def test_sparql_bind_expressions_match_python(spark, data, ast):
    """Random BIND expression over a solution with a possibly-unbound
    variable (OPTIONAL): the engine's string-typed Column compilation
    must agree exactly — including null propagation, try_cast numeric
    semantics and negative/odd lexemes — with the independent
    evaluator above."""
    from rify_spark.sparql import sparql_select

    va, vb = data
    quads = [(k, "p0", v, "default_graph") for k, v in va.items()] + [
        (k, "p1", v, "default_graph") for k, v in vb.items()
    ]
    q = (
        "SELECT ?k ?out WHERE { ?k <p0> ?va OPTIONAL { ?k <p1> ?vb } "
        f"BIND({_expr_text(ast)} AS ?out) }}"
    )
    df = spark.createDataFrame(quads or [("x", "x", "x", "x")], SCHEMA)
    if not quads:
        df = df.limit(0)
    got = sorted(
        (r["k"], r["out"]) for r in sparql_select(df, q).collect()
    )
    want = sorted(
        (k, _expr_py(ast, {"va": v, "vb": vb.get(k)}))
        for k, v in va.items()
    )
    assert got == want


# --- snapshot / diff / k-core vs pure-Python oracles -------------------------
#
# The corpus-management and graph ops are deterministic data algorithms, so
# they get the same treatment as the engine: random inputs, exact agreement
# with a reference implementation written directly from the semantics.

VSCHEMA = "repo string, path string, commit long, lang string, content string"

ver_rows_st = st.lists(
    st.tuples(
        st.integers(0, 1),   # repo
        st.integers(0, 2),   # path
        st.integers(0, 30),  # commit (content derives from it, so a
                             # duplicate (key, commit) row is identical
                             # and max_by ties are impossible)
    ),
    min_size=0,
    max_size=14,
)


def _ver_tuples(raw):
    return [
        (f"r{r}", f"f{p}.py", c, "python", f"body-{c % 3}")
        for r, p, c in raw
    ]


def _py_snapshot(rows, asof):
    best = {}
    for repo, path, commit, _lang, content in rows:
        if asof is not None and commit > asof:
            continue
        k = (repo, path)
        if k not in best or commit > best[k][0]:
            best[k] = (commit, content)
    return best


def _py_diff(rows, v_old, v_new):
    s1, s2 = _py_snapshot(rows, v_old), _py_snapshot(rows, v_new)
    out = {}
    for k in set(s1) | set(s2):
        if k in s1 and k not in s2:
            out[k] = "removed"
        elif k not in s1:
            out[k] = "added"
        elif s1[k][1] != s2[k][1]:
            out[k] = "modified"
    return out


@settings(max_examples=5 * _SCALE, **_SETTINGS)
@given(raw=ver_rows_st, cuts=st.tuples(st.integers(0, 30), st.integers(0, 30)))
def test_snapshot_and_diff_match_python_oracle(spark, raw, cuts):
    from pyspark.sql import functions as F

    from rify_spark.ops.snapshot import corpus_diff, latest_snapshot

    rows = _ver_tuples(raw)
    files = spark.createDataFrame(rows, VSCHEMA)
    asof, v2 = cuts

    got = {
        (r.repo, r.path): (r.commit, r.content)
        for r in latest_snapshot(files, asof=F.lit(asof)).collect()
    }
    assert got == _py_snapshot(rows, asof)

    got_diff = {
        (r.repo, r.path): r.change
        for r in corpus_diff(files, F.lit(asof), F.lit(v2)).collect()
    }
    assert got_diff == _py_diff(rows, asof, v2)


edges_st = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5)),
    min_size=0,
    max_size=14,
)


def _py_kcore(pairs, k):
    adj: dict = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = set(adj)
    while True:
        drop = {n for n in nodes if len(adj[n] & nodes) < k}
        if not drop:
            break
        nodes -= drop
    return {n: len(adj[n] & nodes) for n in nodes}


@settings(max_examples=5 * _SCALE, **_SETTINGS)
@given(pairs=edges_st, k=st.integers(1, 3))
def test_kcore_matches_python_oracle(spark, pairs, k):
    from rify_spark.ops.graph import kcore

    ed = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in pairs] or [("x", "x")],
        "s string, o string",
    )
    got = {r.node: r.deg for r in kcore(ed, k).collect()}
    expected = {
        f"n{n}": d for n, d in _py_kcore(pairs, k).items()
    }
    assert got == expected
