"""SPARQL SELECT front-end: basic graph patterns compiled onto the matcher.

The reference engine's data model is RDF-shaped ``[s, p, o, g]`` quads and
its rule bodies ARE basic graph patterns (``src/rule.rs``: if-all atom
lists over Bound/Unbound terms); the natural public query language for
that shape is the SPARQL BGP subset. This module parses it and compiles to
the exact same plan machinery the rules run on (``matcher.bindings`` —
filtered atom projections chained by shared-variable equi-joins, greedy
connected join order, Catalyst picking physical strategies), so a SPARQL
query is optimized identically to a rule body rather than through a
second code path.

Supported subset (documented contract, errors otherwise):

  * ``PREFIX`` declarations and prefixed names; ``a`` == ``rdf:type``;
    ``BASE <iri>`` — relative ``<refs>`` (every slot, PREFIX values
    included) resolve by full RFC 3986 reference resolution (dot
    segments and all; scheme-independent), declarations may interleave
    and a later BASE re-binds against the previous one;
  * ``SELECT [DISTINCT] ?v ... | *`` over one group pattern; ``ASK``
    (existence, a 1-row boolean); ``CONSTRUCT { template } WHERE { ... }``
    — the template instantiates through the SAME head-projection the rule
    engine uses (``matcher.project_heads``), so a CONSTRUCT is literally a
    one-shot rule application; ``GRAPH`` blocks are allowed in the
    template (an extension — the engine's quads are graph-scoped,
    src/common.rs), defaulting to the default graph; the
    ``CONSTRUCT WHERE { triples }`` shorthand (§16.2.3: template ==
    pattern, plain triples only, no blank nodes) mirrors the matched
    subgraph; ``DESCRIBE <r> ...
    ?v ... [WHERE { ... }]`` — the one-hop forward description (every
    quad whose subject is a described resource, all graphs; the spec
    leaves the description form implementation-defined, §16.4);
  * triple blocks with ``;`` (shared subject) and ``,`` (shared object
    list) separators; terms: ``<iri>``, ``prefix:local``, ``"literal"``
    (with ``\\ \" \n \r \t`` escapes), lang-tagged ``"lit"@tag`` and
    typed ``"lit"^^<dt>`` / ``"lit"^^pfx:local`` literals (they compile
    to the RAW-lexeme convention — the decoded value re-wrapped as
    ``'"v"@tag'`` / ``'"v"^^<dt>'`` — while a bare ``"v"`` stays the
    legacy plain-value constant matching bare-lexeme stores), numeric
    (``30``, ``3.14``) and boolean (``true`` / ``false``) constants as
    plain decimal/boolean lexemes (integers canonicalized, a documented
    divergence from SPARQL's typed-literal reading — consistent with
    the opaque string term space whose arithmetic/accessors emit bare
    lexemes), ``?var`` / ``$var``, and blank
    nodes ``_:label`` / bare ``[]`` in subject/object position —
    nondistinguished variables (spec §4.1.4): they join like variables
    (one query-wide scope for a label; each ``[]`` is fresh) but are
    never projected by ``SELECT *`` and cannot be selected, filtered,
    or used outside triple patterns; ``[ p o ; p2 o2, o3 ]`` property
    lists (spec §4.2.1 sugar, nestable, standalone-subject form
    included) expand to triples on a fresh anonymous node; blank nodes
    in a CONSTRUCT template mint ONE FRESH NODE PER SOLUTION
    (spec §16.2.1) as a deterministic md5 of the solution's bindings
    (duplicate solutions coincide — consistent with the set-semantics
    store), and a template label may not also appear in WHERE;
    RDF collections ``( t1 t2 ... )`` (spec §4.3.3 sugar, nestable)
    expand to fresh anonymous cells chained with ``rdf:first`` /
    ``rdf:rest`` terminated by ``rdf:nil`` (``()`` is the rdf:nil IRI);
  * ``GRAPH ?g { ... }`` / ``GRAPH <iri> { ... }`` — the 4th quad slot;
    patterns outside GRAPH match the engine's default graph
    (``rdf.DEFAULT_GRAPH``);
  * ``FROM <g>`` / ``FROM NAMED <g>`` dataset clauses (spec §13.2, all
    four query forms): the default graph becomes the set-union of the
    FROM graphs and GRAPH patterns see only the FROM NAMED graphs
    (either clause alone empties the other side); graph membership is
    an ``isin`` filter on ``g`` — pushed to the scan, partition-
    prunable when the store is partitioned by graph; not allowed in
    subqueries. Under dataset clauses ``GRAPH ?g`` ranges over the
    NAMED graphs only (spec); without them it stays the engine's plain
    4th-slot variable (binds whatever ``g`` holds, default included);
  * ``FILTER`` with comparisons ``= != < <= > >=`` whose operands are
    any scalar expression (the BIND grammar below: variables, constants,
    CONCAT/COALESCE/STR/UCASE/LCASE/STRLEN/SUBSTR, ``+``/``-``
    arithmetic — an unquoted integer or arithmetic on either side
    switches the comparison to numeric try_cast semantics), string
    tests ``STRSTARTS(e1, e2)`` / ``STRENDS(e1, e2)`` /
    ``CONTAINS(e1, e2)`` over scalar expressions (negatable with
    ``!``), plus ``bound(?v)`` / ``!bound(?v)`` and
    ``regex(?v, "pat")`` / ``!regex(...)`` (Java regex flavor — Spark
    ``rlike`` — a documented divergence from SPARQL's XPath flavor),
    ``e IN (e1, ...)`` / ``e NOT IN (...)`` membership lists (the
    ||-chain of ``=`` per spec §17.4.1.9, so the numeric switch and
    error-semantics apply per element; an empty list is FALSE / TRUE),
    combined with ``&&`` and ``||`` (``||`` binds loosest), boolean
    parentheses and ``!( ... )`` group negation (Spark's null logic
    reproduces SPARQL's three-valued error tables, §17.2 —
    ``!error`` stays error and the row is dropped) (string comparison
    semantics — the engine's term
    space is opaque strings, reference src/common.rs); a FILTER scopes to
    the group it appears in, and a comparison on an unbound
    (OPTIONAL-missing) value excludes the row — SPARQL's error-semantics,
    which is exactly Spark's null-comparison behavior;
  * ``OPTIONAL { ... }`` — a left join on the shared variables (must
    share at least one always-bound variable with the preceding part of
    its group);
  * ``{ ... } UNION { ... }`` — branch solutions padded to the union of
    their variables (missing vars null/unbound) and unioned;
  * ``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (..) .. }`` inline
    bindings with ``UNDEF`` (an UNDEF column is possibly-unbound and
    follows the same subset restriction as OPTIONAL vars); the
    query-final ``VALUES`` clause (§7.2.3) on every query form, joined
    per §18.2.4.2's modifier order — after aggregation + HAVING,
    before SELECT expressions / ORDER / LIMIT (top-level queries;
    subqueries keep VALUES as a group element);
  * nested ``{ }`` groups; each contiguous triple block compiles through
    ``matcher.bindings`` as ONE join chain, and group elements combine
    with DataFrame joins;
  * property-path expressions in predicate position over constant
    predicates: ``^p`` (inverse), ``p1/p2`` (sequence — an equi-join on
    the middle node within the same graph), ``p1|p2`` (alternation),
    ``p+`` / ``p*`` (transitive closure, executed by the inference
    engine's fixpoint — the pure-TC shape auto-delegates to the
    O(log depth) smart-TC strategy), ``p?`` (zero-or-one), and
    parenthesised combinations, and negated property sets ``!p`` /
    ``!(p1 | ^p2 | ...)`` (anti-membership scan predicates; a
    pure-inverse set has no forward leg and vice versa, spec
    §18.2.2.1). Set semantics throughout (SPARQL's
    closures are distinct-node too; its ``/`` and ``|`` are
    bag-semantics — a documented divergence, matching the engine's
    set-based store). The zero-length path relates each term occurring
    as a subject or object in the (graph-scoped) data to itself;
  * aggregates: ``SELECT (COUNT(*) AS ?n) (COUNT([DISTINCT] ?v) AS ?c)
    (SUM(?v) AS ?s) (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) (SAMPLE(?v) AS
    ?any) (GROUP_CONCAT(?v ; SEPARATOR = ",") AS ?cat) ?g ... GROUP BY
    ?g ... HAVING (COUNT(*) > 3 && ...)`` — one partial-aggregating
    shuffle (``groupBy(...).agg(...)``; map-side combine, so a hot group
    key costs its combiner, not a skewed reduce). The engine's term
    space is opaque strings, so ``SUM`` casts the lexeme to a 64-bit
    integer (non-integer lexemes contribute NULL and are skipped — the
    SQL twin is ``SUM(TRY_CAST(v AS BIGINT))``); ``MIN``/``MAX`` compare
    lexicographically; ``SAMPLE`` picks the minimum (deterministic, a
    legal SAMPLE); ``GROUP_CONCAT`` joins the values SORTED (SPARQL
    leaves the order unspecified — determinism chosen so results are
    reproducible and SQL-twinnable); every plain selected variable must
    be GROUPed BY; grouping by a possibly-unbound variable puts the
    unbound rows in one NULL group (Spark's and SQL's shared
    convention); ``HAVING`` takes aggregate-vs-constant comparisons
    (integer constants for COUNT/SUM, string constants otherwise);
    GROUP BY keys may be ``(expr AS ?alias)`` — materialized
    pre-aggregation exactly like BIND-then-GROUP-BY, alias selectable;
  * numeric FILTER comparisons: an unquoted integer constant switches
    that comparison to numeric semantics — the variable side try_casts
    to BIGINT, non-integer lexemes exclude the row (error-semantics);
  * ``{ SELECT ... }`` subqueries as group elements — evaluated
    bottom-up (their own WHERE/GROUP BY/HAVING/modifiers), then joined
    with the enclosing group on shared projected variables; aggregate
    aliases become ordinary bound variables in the outer scope
    (SUM/MIN/MAX aliases are possibly-unbound — an all-null group —
    and follow the OPTIONAL-var subset restriction);
  * ``BIND(expr AS ?v)`` group elements and expression SELECT items
    ``(expr AS ?v)`` (the latter in non-aggregate queries): expressions
    over the opaque string term space — ``CONCAT``, ``COALESCE``,
    ``STR``, ``UCASE``, ``LCASE``, ``STRLEN``, ``SUBSTR(s, start,
    len)``, ``STRBEFORE``/``STRAFTER`` (spec edge cases: empty needle
    -> ""/the whole string, missing needle -> ""), ``REPLACE(s, "pat",
    "rep")`` (GLOBAL regex replace, Java flavor — the regex()
    divergence; pattern/replacement must be string literals), ``MD5`` /
    ``SHA1`` / ``SHA256`` / ``SHA384`` / ``SHA512`` (lowercase hex over
    the UTF-8 bytes), ``ABS`` / ``CEIL`` / ``FLOOR`` / ``ROUND`` (the
    integer-lexeme numeric model — the latter three are the identity on
    integral lexemes, an error otherwise),
    xsd:dateTime accessors ``YEAR`` / ``MONTH`` / ``DAY`` / ``HOURS`` /
    ``MINUTES`` / ``SECONDS`` / ``TZ`` / ``TIMEZONE`` (§17.4.5) over
    typed ``"..."^^<xsd:dateTime>`` literals — pure regexp field
    extraction from the lexical form (integer fields as bare decimal
    lexemes; SECONDS keeps the lexical fraction, zero-padding
    stripped; TZ is the designator as written or ``""``; TIMEZONE
    renders the raw ``xsd:dayTimeDuration`` typed literal and errors
    on a timezone-less lexeme; any wrong-kind or unparseable input
    errors),
    ``ENCODE_FOR_URI`` (RFC 3986 percent-encoding, uppercase hex —
    Java URLEncoder patched for the unreserved set), ``IF(cond, then,
    else)`` (cond is a FILTER boolean tree; an errored condition makes
    the IF an error per §17.4.1.2 — bare-variable EBV coercion stays
    out of subset), and integer ``+``/``-``/``*`` arithmetic (``*``
    binds tighter; operands try_cast to BIGINT, result rendered back as
    its decimal lexeme; a non-integer lexeme makes the result unbound —
    error-semantics). Term-kind functions over the raw-lexeme
    convention (see the convention block above ``_t_str``): boolean
    FILTER tests ``isIRI``/``isURI``, ``isBlank``, ``isLiteral``,
    ``isNumeric`` (the integer-lexeme model: the STR projection casts
    to BIGINT), ``sameTerm`` (raw equality — never the numeric switch),
    ``langMatches`` (RFC 4647 basic filtering; ``"*"`` = any non-empty
    tag), and scalar projections ``STR`` (term-aware: literal lexical
    form / IRI itself / error on blanks — identity over a legacy
    all-bare store), ``LANG``, ``DATATYPE`` (xsd:string /
    rdf:langString / the ``^^``-IRI; error on non-literals), ``IRI`` /
    ``URI``, ``STRLANG``, ``STRDT`` — all pure JVM when/regexp
    expressions; a wrong-kind input errors (NULL) and rides the
    possibly-unbound tracking. An
    errored or unbound input propagates: the BIND target is unbound
    (null) and rides the possibly-unbound tracking like an OPTIONAL
    variable; ``COALESCE`` is the recovery function. The BIND target
    must be a fresh variable in its group (spec §10.1). The
    nondeterministic generators ``BNODE([expr])`` / ``RAND()`` /
    ``UUID()`` / ``STRUUID()`` / ``NOW()`` are all implemented as
    deterministic legal instances (see :class:`ENdet`: md5 mints over
    call-site + bindings, a parse-time-fixed ``NOW`` overridable via
    ``RIFY_SPARQL_NOW``) — with them the §17.4 builtin library is
    complete;
  * ``ORDER BY`` with multiple keys — ``?var``, ``[ASC|DESC](expr)``
    or ``(expr)`` over the selected columns; an arithmetic /
    numeric-constant expression orders NUMERICALLY (the lexeme
    try_casts to BIGINT — ``ORDER BY DESC(?t + 0)`` is the by-value
    idiom over the opaque term space, the same numeric switch as
    FILTERs); ``LIMIT n``, ``OFFSET n`` (ordered LIMIT plans as one
    global top-k — TakeOrderedAndProject, no full sort).

Possibly-unbound variables (introduced under OPTIONAL, or missing from
some UNION branch) are first-class: they may appear in FILTERs and
SELECT, and as later join / EXISTS / MINUS keys with SPARQL's
compatible-mappings semantics (spec §18.5: an unbound variable is
compatible with any value; the merged solution takes the bound one) —
see ``_Eval._compat_join`` for the plan shapes. In CONSTRUCT / UPDATE
templates they follow the spec's skip-incomplete-triple rule (§16.2,
Update §3.1.3): a solution leaving a template variable unbound omits
just the triples using it, compiled as per-signature null filters.
Aggregate arguments may be any scalar expression from the BIND
grammar (``SUM(?a - ?b)``, ``COUNT(DISTINCT CONCAT(?x, ?y))``,
``MIN(STRLEN(?v))`` ...) — the expression evaluates per input row
under the same error-semantics (an errored/unbound row contributes
NULL and is skipped, spec §18.5.1's skip-the-errors), and a HAVING
aggregate whose expression matches a selected one reuses its column.
``AVG`` casts lexemes to BIGINT and yields a DOUBLE column
(exact integral sum, one IEEE division — deterministic and equal to the
SQL twin's ``AVG(TRY_CAST(v AS BIGINT))``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from urllib.parse import urljoin

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import RifyError
from .matcher import bindings
from .rdf import DEFAULT_GRAPH
from .rules import LoweredRule

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"


class SparqlParseError(RifyError):
    """Query text outside the supported SPARQL subset."""


_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><[^<>\s]*>)
    | (?P<string>"(?:[^"\\]|\\.)*")
    | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
    | (?P<pname>(?:[A-Za-z_][A-Za-z0-9_-]*)?:[A-Za-z0-9_.-]*)
    | (?P<kw>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<dec>[0-9]+\.[0-9]+)
    | (?P<num>[0-9]+)
    | (?P<op><=|>=|!=|&&|\|\||[{}.;,()=<>*:!+^/|?\[\]-])
    """,
    re.VERBOSE,
)

_UNESC = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r", "\\t": "\t"}

#: an IRI reference that already carries a scheme is absolute — never
#: resolved against BASE (RFC 3986 §4.1)
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


# ---------------------------------------------------------------------------
# RDF term-kind convention over the opaque lexeme space
#
# The engine's store columns are plain strings. A store that wants
# term-KIND semantics (isIRI / LANG / DATATYPE ...) keeps literals in
# their raw N-Quads object form — '"value"', '"value"@en',
# '"value"^^<datatype-iri>' (exactly what rdf.py's reader sees before it
# strips delimiters) — blank nodes as '_:label', and IRIs BARE (no angle
# brackets: that is already the engine-wide convention — a '<iri>'
# constant in query text compiles to the bare lexeme). The projections
# below are pure JVM when/regexp expressions: a lexeme starting '"' is a
# literal, '_:' a blank node, anything else an IRI. Over a legacy
# all-bare store every term therefore reads as an IRI — documented, and
# exactly what an untyped store can truthfully say.
#
# ``str`` follows spec §17.4.2.5: the IRI string for IRIs, the LEXICAL
# FORM for literals (suffixes stripped; ECHAR escapes are NOT decoded —
# the raw convention stores decoded values), and an ERROR (NULL) for
# blank nodes. LANG (§17.4.2.6) is "" for plain/typed literals, the tag
# for lang literals, error otherwise; DATATYPE (§17.4.2.7) is
# xsd:string / rdf:langString / the ^^-IRI for literals, error otherwise.
# ---------------------------------------------------------------------------

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
RDF_LANG_STRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"
XSD_DAYTIMEDURATION = "http://www.w3.org/2001/XMLSchema#dayTimeDuration"

_LIT_VALUE_RE = r'^"((?:[^"\\]|\\.)*)"'
_LIT_LANG_RE = r'^"(?:[^"\\]|\\.)*"@([A-Za-z][A-Za-z0-9-]*)$'
_LIT_DT_RE = r"\^\^<([^<>]*)>$"

#: the xsd:dateTime lexical space (XSD 1.1 §3.3.7), capture groups
#: 1=year 2=month 3=day 4=hours 5=minutes 6=seconds(with fraction) 7=tz;
#: shared verbatim with the DuckDB twin (both Java regex and RE2 read it
#: identically, incl. the non-capturing fraction group)
_DT_LEX_RE = (
    r"^(-?\d{4,})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2}(?:\.\d+)?)"
    r"(Z|[+-]\d{2}:\d{2})?$"
)


def _t_is_literal(c):
    return c.startswith('"')


def _t_is_blank(c):
    return c.startswith("_:")


def _t_is_iri(c):
    return ~c.startswith('"') & ~c.startswith("_:")


def _t_str(c):
    return (
        F.when(c.startswith('"'), F.regexp_extract(c, _LIT_VALUE_RE, 1))
        .when(c.startswith("_:"), F.lit(None).cast("string"))
        .otherwise(c)
    )


def _t_lang(c):
    # regexp_extract yields "" on no match — exactly LANG's plain/typed
    # literal answer; non-literals error (NULL)
    return F.when(c.startswith('"'), F.regexp_extract(c, _LIT_LANG_RE, 1))


def _t_datatype(c):
    dt = F.regexp_extract(c, _LIT_DT_RE, 1)
    lang = F.regexp_extract(c, _LIT_LANG_RE, 1)
    return F.when(
        c.startswith('"'),
        F.when(dt != "", dt)
        .when(lang != "", F.lit(RDF_LANG_STRING))
        .otherwise(F.lit(XSD_STRING)),
    )


def _t_datetime_part(c, group: int):
    """Capture ``group`` of the xsd:dateTime lexical pattern over a
    term column — NULL (a SPARQL error) unless the term is a literal
    typed ``xsd:dateTime`` whose lexical form matches the dateTime
    grammar. The year capture of a matching lexeme is never empty, so
    it doubles as the did-it-match gate (``regexp_extract`` answers
    ``""`` both for a failed match and for a non-participating
    optional group — in Spark and DuckDB alike, verified)."""
    lex = F.regexp_extract(c, _LIT_VALUE_RE, 1)
    return F.when(
        c.startswith('"')
        & (F.regexp_extract(c, _LIT_DT_RE, 1) == XSD_DATETIME)
        & (F.regexp_extract(lex, _DT_LEX_RE, 1) != ""),
        F.regexp_extract(lex, _DT_LEX_RE, group),
    )


def _tokenize(text: str) -> list:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlParseError(
                f"unexpected character {text[pos]!r} at offset {pos}"
            )
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        if kind == "var" and m.group()[1:].startswith(BNODE_PREFIX):
            # the internal blank-node namespace must stay collision-free
            raise SparqlParseError(
                f"variable names starting with {BNODE_PREFIX!r} are "
                "reserved (blank-node internals)"
            )
        out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


#: internal variable-name prefix for blank nodes (``_:label`` compiles to
#: ``Var(BNODE_PREFIX + label)``); excluded from SELECT * projection
BNODE_PREFIX = "__bn_"


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Const:
    value: str


@dataclass(frozen=True)
class NumConst:
    """An unquoted integer in a FILTER comparison: switches the
    comparison to numeric semantics (the variable side is try_cast to
    BIGINT; non-integer lexemes become NULL and the row is excluded —
    SPARQL's error-semantics)."""

    value: int


@dataclass(frozen=True)
class Agg:
    """One ``(FUNC([DISTINCT] ?v | *) AS ?alias)`` SELECT item or the
    FUNC(...) half of a HAVING comparison (``alias`` is None there)."""

    func: str  # COUNT | SUM | MIN | MAX | SAMPLE | GROUP_CONCAT
    var: str | None  # None == COUNT(*) or an expression argument
    distinct: bool
    alias: str | None
    sep: str | None = None  # GROUP_CONCAT separator (default " ")
    expr: object | None = None  # scalar-expression argument (BIND grammar)

    @property
    def key(self):
        """Identity of the computed aggregate, ignoring the alias — a
        HAVING aggregate that matches a selected one reuses its column.
        An expression argument identifies by its AST repr (frozen
        dataclasses — deterministic, and EIf conditions need not be
        hashable)."""
        return (
            self.func, self.var, self.distinct, self.sep,
            repr(self.expr) if self.expr is not None else None,
        )


@dataclass(frozen=True)
class EFunc:
    """A scalar function call in a BIND / SELECT expression: CONCAT,
    COALESCE, STR, UCASE, LCASE, STRLEN, SUBSTR."""

    name: str
    args: tuple


@dataclass(frozen=True)
class EArith:
    """Integer ``+``/``-``/``*`` over term lexemes: operands try_cast to
    BIGINT (a non-integer lexeme nulls the result — SPARQL's
    error-semantics, the same contract as numeric FILTERs) and the
    result renders back to its decimal lexeme (the term space stays
    opaque strings). ``/`` is deliberately absent: SPARQL's xsd division
    yields decimals, which the integer-lexeme model cannot render
    exactly."""

    op: str  # "+" | "-" | "*"
    lhs: object
    rhs: object


@dataclass(frozen=True)
class EIf:
    """``IF(cond, then, else)`` — ``cond`` is a FILTER boolean tree
    (comparisons / string tests / bound / regex / IN combined with
    ``&&``/``||``/``!``), the branches are scalar expressions. SPARQL
    §17.4.1.2 error semantics: an errored condition makes the whole IF
    an error (the target stays unbound) — which is exactly Spark's
    ``when(c, a).when(~c, b)`` with no ``otherwise`` (a NULL condition
    falls through to NULL). A bare variable as the condition (effective
    boolean value coercion) stays out of subset — the term space is
    opaque strings, so EBV would be a guess."""

    cond: object  # a _filter_or tree
    then: object
    other: object


@dataclass(frozen=True)
class ENdet:
    """One of the spec's nondeterministic generators — ``BNODE([expr])``,
    ``RAND()``, ``UUID()``, ``STRUUID()`` (§17.4.2.9/.2.3/.2.4/§17.4.4.1)
    — made deterministic the way CONSTRUCT-template blank nodes are: the
    value is a function (md5) of the solution's bindings plus the
    call-site ordinal, so each call site yields a distinct stream, every
    solution gets its own value, and the value is reproducible by the
    SQL oracle twins. The spec only constrains these functions' ranges
    and freshness ACROSS calls/solutions — a deterministic instance is a
    legal implementation, with the one documented divergence that
    duplicate solutions coincide (moot under the engine's set
    semantics). ``BNODE(expr)`` follows §17.4.2.9: the same argument
    within one solution maps to the same node across call sites (the
    site ordinal is omitted; the node is keyed by the argument's STR
    projection alone). Two documented lenience points on the argument:
    the spec restricts it to simple/xsd:string literals, but under the
    raw-lexeme convention bare terms are indistinguishable from IRIs,
    so any term with a STR projection is accepted (the same lenience
    ``STR`` itself has; blank-node arguments still error); and keying
    on the argument alone means equal arguments in DIFFERENT solutions
    share the node — deterministic skolemization.
    ``NOW()`` never builds this node — it is a parse-time constant (one
    fixed ``xsd:dateTime`` for the whole query execution, §17.4.5.1),
    overridable via the ``RIFY_SPARQL_NOW`` environment variable for
    reproducible runs."""

    name: str  # BNODE | RAND | UUID | STRUUID
    arg: object | None  # BNODE's optional argument expression
    site: int  # call-site ordinal within the query


@dataclass(frozen=True)
class EAggRef:
    """An aggregate call used as an OPERAND inside a SELECT expression
    (``(SUM(?t) - MIN(?t) * COUNT(*) AS ?x)``, spec §18.2.4.1's
    aggregate projections). Evaluation computes the aggregate into a
    hidden grouped column and reads it back here as its decimal lexeme
    (the opaque-string term space), so the surrounding arithmetic keeps
    the integer-lexeme contract; AVG reads back as its double lexeme
    and only survives where a numeric lexeme is legal."""

    agg: Agg

    @property
    def key(self):
        return self.agg.key


@dataclass(frozen=True)
class PPred:
    """Path leaf: one constant predicate's edge set."""

    pred: str


@dataclass(frozen=True)
class PInv:
    """``^path`` — the inverse: every edge reversed."""

    child: object


@dataclass(frozen=True)
class PSeq:
    """``p1/p2/...`` — edge-set composition (join on the middle node,
    within the same graph)."""

    parts: tuple


@dataclass(frozen=True)
class PAlt:
    """``p1|p2|...`` — edge-set union."""

    parts: tuple


@dataclass(frozen=True)
class PClos:
    """``path+`` (``min0=False``) or ``path*`` (``min0=True``) — the
    transitive closure of the child's edge set, executed by the
    inference engine itself: the closure compiles to the pure two-rule
    transitive-closure program, which the fixpoint auto-delegates to the
    O(log depth) smart-TC strategy (tc.py). ``*`` adds the zero-length
    identity over the graph's nodes."""

    child: object
    min0: bool


@dataclass(frozen=True)
class POpt01:
    """``path?`` — the child's edges plus the zero-length identity."""

    child: object


@dataclass(frozen=True)
class PNps:
    """``!iri`` / ``!(iri1 | ^iri2 | ...)`` — a negated property set
    (spec §18.2.2.1): the forward members match any triple whose
    predicate is NOT in ``fwd``; the ``^``-members match any REVERSED
    triple whose predicate is not in ``inv``. A set with only inverse
    members has no forward leg (and vice versa), per the spec's
    NPS / inv(NPS) / alt(...) translation. Compiles to an anti-membership
    filter on the predicate column — a pushed-down scan predicate, no
    join."""

    fwd: tuple  # predicate IRIs negated in the forward direction
    inv: tuple  # predicate IRIs negated in the reverse direction


@dataclass(frozen=True)
class Path:
    """A property-path expression in predicate position; ``expr`` is a
    tree of PPred/PInv/PSeq/PAlt/PClos/POpt01/PNps nodes."""

    expr: object


# --- group-graph-pattern AST ------------------------------------------------

@dataclass
class Bgp:
    """A contiguous basic graph pattern: compiled as ONE matcher join
    chain (GRAPH blocks containing only triples merge into the enclosing
    Bgp — graph scoping lives in each quad's 4th term)."""

    patterns: list  # (s, p, o, g) of Var/Const


@dataclass
class Opt:
    node: "Group"  # OPTIONAL { ... } -> left join


@dataclass
class Minus:
    node: "Group"  # MINUS { ... } -> anti join on shared vars


@dataclass
class BindNode:
    """``BIND(expr AS ?v)`` — evaluated in group order: the expression
    sees the bindings accumulated so far, the target must be fresh."""

    name: str
    expr: object


@dataclass
class ValuesBlock:
    names: list  # variable names
    rows: list  # list[tuple[str | None, ...]] — None == UNDEF


@dataclass
class UnionNode:
    branches: list  # list[Group] -> padded unionByName


@dataclass
class SubSelect:
    """``{ SELECT ... }`` — a nested query evaluated bottom-up; its
    projected variables join with the enclosing group."""

    q: "_Parser"


@dataclass
class ServiceNode:
    """``SERVICE [SILENT] <iri> { ... }`` (spec §13, federated query) —
    LOCAL federation: the endpoint IRI resolves through a caller-
    supplied registry of quad DataFrames (``services={iri: df}``), the
    lakehouse reading of federation (other quad stores in the same
    catalog; no HTTP by design — no external data). The inner group
    evaluates against the resolved store's OWN dataset (its default
    graph and named graphs — an enclosing GRAPH block does not scope a
    remote dataset) and joins the enclosing solutions with the standard
    compatible-mappings machinery. ``SILENT`` + an unregistered IRI
    degrades to the unit solution (spec: silent failure), i.e. the
    group is unaffected."""

    iri: str
    node: "Group"
    silent: bool


@dataclass
class Group:
    elems: list  # Bgp | Group | Opt | UnionNode | SubSelect, joined in order
    filters: list  # (op, lhs, rhs), applied after this group's joins


def _walk_patterns(node) -> list:
    out = []
    for e in node.elems:
        if isinstance(e, Bgp):
            out.extend(e.patterns)
        elif isinstance(e, (Opt, Minus)):
            out.extend(_walk_patterns(e.node))
        elif isinstance(e, UnionNode):
            for b in e.branches:
                out.extend(_walk_patterns(b))
        elif isinstance(e, (ValuesBlock, BindNode)):
            pass  # no quad patterns; _var_order handles the names
        elif isinstance(e, SubSelect):
            out.extend(_walk_patterns(e.q.root))
        elif isinstance(e, ServiceNode):
            out.extend(_walk_patterns(e.node))
        else:
            out.extend(_walk_patterns(e))
    return out


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict = {}
        self.base: str | None = None  # BASE <iri> for relative refs
        self.form = "SELECT"  # SELECT | ASK | CONSTRUCT | DESCRIBE
        self.root: Group | None = None  # the WHERE group
        self.template: list = []  # CONSTRUCT head quads
        self.described: list = []  # DESCRIBE resources (Var | Const)
        self._bn_anon = 0  # anonymous blank-node counter ([])
        self._ndet_site = 0  # BNODE()/RAND()/UUID()/STRUUID() call sites
        self._now_lex: str | None = None  # NOW(), fixed per execution
        self._pending: list = []  # [ p o ] property-list inner triples
        self.select: list | None = None  # None == SELECT *
        self.projection: list = []  # ("var", name) | Agg — SELECT order
        self.dataset_from: list = []  # FROM <iri> graphs (default merge)
        self.dataset_named: list = []  # FROM NAMED <iri> graphs
        self.group_by: list = []  # variable names (incl. expr aliases)
        self.group_exprs: list = []  # (alias, scalar AST) GROUP BY keys
        self.having: list = []  # (Agg, op, py-literal)
        self.having_tree = None  # general HAVING: a filter tree w/ EAggRefs
        self.distinct = False
        self.order: list = []  # (Var, descending)
        self.limit: int | None = None
        self.offset: int | None = None
        self.trailing_values: ValuesBlock | None = None  # query-final VALUES

    @property
    def is_aggregate(self) -> bool:
        return (
            bool(self.group_by)
            or bool(self.having)
            or self.having_tree is not None
            or any(
                isinstance(it, Agg)
                or (isinstance(it, tuple) and it[0] == "aggexpr")
                for it in self.projection
            )
        )

    @property
    def patterns(self) -> list:
        """All quad patterns in syntactic order (flattened tree view)."""
        return _walk_patterns(self.root) if self.root else []

    @property
    def filters(self) -> list:
        return self.root.filters if self.root else []

    # --- token helpers ---
    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, value):
        kind, tok = self.next()
        if tok.upper() != value.upper():
            raise SparqlParseError(f"expected {value!r}, got {tok!r}")
        return tok

    def kw(self, word) -> bool:
        kind, tok = self.peek()
        if kind == "kw" and tok.upper() == word:
            self.next()
            return True
        return False

    def dataset_clause(self):
        """``FROM <iri>`` / ``FROM NAMED <iri>`` clauses (spec §13.2) —
        they pick the query's dataset out of the quad store: the default
        graph becomes the set-union of the FROM graphs and only the FROM
        NAMED graphs stay visible to GRAPH patterns (either clause alone
        empties the other side, per spec)."""
        while self.kw("FROM"):
            named = self.kw("NAMED")
            t = self.term()
            if not isinstance(t, Const):
                raise SparqlParseError("FROM needs a graph IRI")
            (
                self.dataset_named if named else self.dataset_from
            ).append(t.value)

    # --- terms ---
    def term(self, *, as_pred=False, allow_bnode=False):
        kind, tok = self.next()
        if kind == "var":
            return Var(tok[1:])
        if kind == "iri":
            return Const(self._resolve_iri(tok[1:-1]))
        if kind == "string":
            if as_pred:
                raise SparqlParseError("literal in predicate position")
            val = tok[1:-1]
            val = re.sub(
                r"\\.", lambda m: _UNESC.get(m.group(), m.group()), val
            )
            # RDF literal suffixes compile to the RAW-lexeme convention
            # (the convention block above _t_str): '"v"@tag' /
            # '"v"^^<dt>' — the decoded value re-wrapped, exactly the
            # form the term-kind store builders emit. A bare "v" stays
            # the legacy plain-value constant (back-compat: it matches
            # a bare-lexeme store).
            k2, t2 = self.peek()
            if k2 == "langtag":
                self.next()
                return Const('"' + val + '"' + t2)
            if (
                k2 == "op"
                and t2 == "^"
                and self.toks[self.i + 1] == ("op", "^")
            ):
                self.next()
                self.next()
                dt = self.term(as_pred=True)
                if not isinstance(dt, Const):
                    raise SparqlParseError(
                        "a ^^ datatype must be an IRI or prefixed name"
                    )
                return Const('"' + val + '"^^<' + dt.value + ">")
            return Const(val)
        if kind in ("num", "dec"):
            # numeric term constants match the engine's bare-lexeme
            # convention (the same form the accessors/arithmetic emit):
            # integers canonicalized to their decimal lexeme, decimals
            # kept as written — a documented divergence from SPARQL's
            # typed xsd:integer/xsd:decimal literals, consistent with
            # the opaque string term space
            if as_pred:
                raise SparqlParseError("literal in predicate position")
            return Const(str(int(tok)) if kind == "num" else tok)
        if kind == "kw" and tok in ("true", "false"):
            # boolean term constants, bare-lexeme like numerics
            if as_pred:
                raise SparqlParseError("literal in predicate position")
            return Const(tok)
        if kind == "pname":
            pfx, local = tok.split(":", 1)
            if pfx == "_":
                # blank node _:label — an internal, never-projected
                # variable (spec §4.1.4: bnodes in queries are
                # nondistinguished variables); one query-wide scope
                if not allow_bnode:
                    raise SparqlParseError(
                        "blank nodes are only allowed in triple "
                        "subject/object positions"
                    )
                return Var(BNODE_PREFIX + local)
            if pfx not in self.prefixes:
                raise SparqlParseError(f"undeclared prefix {pfx!r}")
            return Const(self.prefixes[pfx] + local)
        if kind == "op" and tok == "(":
            # RDF collection ( t1 t2 ... ) (spec §4.3.3 sugar): a fresh
            # anonymous node per cell, chained with rdf:first/rdf:rest
            # and terminated by rdf:nil; () is the rdf:nil IRI itself.
            # Cell triples buffer in _pending like property lists (the
            # enclosing triples_block flushes them under its graph)
            if not allow_bnode:
                raise SparqlParseError(
                    "collections are only allowed in triple "
                    "subject/object positions"
                )
            if self.peek() == ("op", ")"):
                self.next()
                return Const(RDF_NIL)
            cells = []
            while self.peek() != ("op", ")"):
                self._bn_anon += 1
                cell = Var(f"{BNODE_PREFIX}anon{self._bn_anon}")
                cells.append(cell)
                self._pending.append(
                    (cell, Const(RDF_FIRST), self.term(allow_bnode=True))
                )
            self.next()
            for a, b in zip(cells, cells[1:]):
                self._pending.append((a, Const(RDF_REST), b))
            self._pending.append((cells[-1], Const(RDF_REST), Const(RDF_NIL)))
            return cells[0]
        if kind == "op" and tok == "[":
            # anonymous blank node: bare [] or a [ p o ; p2 o2 ] property
            # list (spec §4.2.1 sugar) — the list's inner triples are
            # buffered and flushed by the enclosing triples_block with
            # its graph scope
            if not allow_bnode:
                raise SparqlParseError(
                    "blank nodes are only allowed in triple "
                    "subject/object positions"
                )
            self._bn_anon += 1
            node = Var(f"{BNODE_PREFIX}anon{self._bn_anon}")
            if self.peek() == ("op", "]"):
                self.next()
                return node
            while True:
                p = self.path_or_pred()
                while True:
                    o = self.term(allow_bnode=True)
                    self._pending.append((node, p, o))
                    if self.peek() == ("op", ","):
                        self.next()
                        continue
                    break
                if self.peek() == ("op", ";"):
                    self.next()
                    if self.peek() == ("op", "]"):  # trailing ';'
                        break
                    continue
                break
            self.expect("]")
            return node
        if kind == "kw" and tok == "a":
            return Const(RDF_TYPE)
        raise SparqlParseError(f"expected term, got {tok!r}")

    def _resolve_iri(self, iri: str) -> str:
        """Resolve a relative IRI reference against the BASE declaration
        (RFC 3986 reference resolution via ``urllib.parse.urljoin`` —
        dot segments and all). An IRI with a scheme, or any IRI when no
        BASE is declared, passes through untouched, so the engine's
        scheme-less bare-name convention (``cust:1`` style identifiers
        arrive as pnames, not ``<...>`` refs) is unaffected."""
        if self.base is None or _SCHEME_RE.match(iri):
            return iri
        m = _SCHEME_RE.match(self.base)
        if not m or m.group(0)[:-1].lower() in ("http", "https", "file"):
            return urljoin(self.base, iri)
        # urljoin applies relative resolution only to schemes it knows,
        # but RFC 3986 §5 resolution is scheme-independent — route any
        # other scheme through a placeholder and restore it
        scheme = m.group(0)[:-1]
        out = urljoin("http" + self.base[len(scheme):], iri)
        return scheme + out[len("http"):]

    # --- grammar ---
    def parse_prologue(self):
        """The BASE / PREFIX declaration block (shared by queries and
        updates, spec §4.1.1-2; declarations may interleave and a later
        BASE re-binds — each resolves against the one before it)."""
        while True:
            if self.kw("BASE"):
                kind, iri = self.next()
                if kind != "iri":
                    raise SparqlParseError("BASE needs an <iri>")
                self.base = self._resolve_iri(iri[1:-1])
                continue
            if not self.kw("PREFIX"):
                break
            kind, tok = self.next()
            if kind == "pname" and tok.endswith(":"):
                name = tok[:-1]
            elif kind == "op" and tok == ":":
                name = ""
            else:
                raise SparqlParseError(f"bad prefix name {tok!r}")
            kind, iri = self.next()
            if kind != "iri":
                raise SparqlParseError("PREFIX needs an <iri>")
            self.prefixes[name] = self._resolve_iri(iri[1:-1])

    def parse(self):
        self.parse_prologue()
        if self.kw("SELECT"):
            self.select_query()
        elif self.kw("ASK"):
            self.form = "ASK"
            self.dataset_clause()
            self.kw("WHERE")
            self.root = self.group_node(Const(DEFAULT_GRAPH))
        elif self.kw("CONSTRUCT"):
            self.form = "CONSTRUCT"
            if self.peek() != ("op", "{"):
                # §16.2.3 shorthand: CONSTRUCT [FROM ...] WHERE { t... }
                # — template and pattern are the same plain triple block
                self.dataset_clause()
                if not self.kw("WHERE"):
                    raise SparqlParseError(
                        "CONSTRUCT needs a template or WHERE pattern"
                    )
                self.root = self.group_node(Const(DEFAULT_GRAPH))
                if self.root.filters or any(
                    not isinstance(e, Bgp) for e in self.root.elems
                ):
                    raise SparqlParseError(
                        "CONSTRUCT WHERE takes plain triples only "
                        "(spec §16.2.3 — no FILTER/OPTIONAL/UNION/...)"
                    )
                self.template = [
                    p for e in self.root.elems for p in e.patterns
                ]
                for quad in self.template:
                    for t in quad:
                        if isinstance(t, Var) and t.name.startswith(
                            BNODE_PREFIX
                        ):
                            raise SparqlParseError(
                                "blank nodes are not allowed in "
                                "CONSTRUCT WHERE (spec §16.2.3)"
                            )
            else:
                tmpl = self.group_node(
                    Const(DEFAULT_GRAPH), allow_filter=False
                )
                if tmpl.filters or any(
                    not isinstance(e, Bgp) for e in tmpl.elems
                ):
                    raise SparqlParseError(
                        "CONSTRUCT template must be plain triples"
                    )
                self.template = [
                    p for e in tmpl.elems for p in e.patterns
                ]
                self.dataset_clause()
                if not self.kw("WHERE"):
                    raise SparqlParseError(
                        "CONSTRUCT needs a WHERE pattern"
                    )
                self.root = self.group_node(Const(DEFAULT_GRAPH))
        elif self.kw("DESCRIBE"):
            self.form = "DESCRIBE"
            while True:
                kind, tok = self.peek()
                if kind in ("var", "iri", "pname") or (
                    kind == "string"
                ):
                    self.described.append(self.term())
                else:
                    break
            if not self.described:
                raise SparqlParseError(
                    "DESCRIBE needs ?vars or constant terms"
                )
            self.dataset_clause()
            kind, tok = self.peek()
            if (kind == "kw" and tok.upper() == "WHERE") or (
                kind == "op" and tok == "{"
            ):
                self.kw("WHERE")
                self.root = self.group_node(Const(DEFAULT_GRAPH))
            elif any(isinstance(t, Var) for t in self.described):
                raise SparqlParseError(
                    "DESCRIBE ?var needs a WHERE pattern binding it"
                )
        else:
            raise SparqlParseError(
                "only SELECT / ASK / CONSTRUCT / DESCRIBE queries are "
                "supported"
            )
        if self.form != "SELECT" and self.kw("VALUES"):
            # query-final ValuesClause (§7.2.3 / §18.2.4.2) for the
            # non-SELECT forms; SELECT (top-level and subqueries) parses
            # it inside select_query
            self.trailing_values = self.values_block()
        if self.peek()[0] != "eof":
            raise SparqlParseError(
                f"trailing input at {self.peek()[1]!r}"
            )
        return self

    def select_query(self):
        """Parse from just after the SELECT keyword: projection clause,
        WHERE group, and solution modifiers (shared by the top-level
        query and ``{ SELECT ... }`` subqueries)."""
        self.form = "SELECT"
        # REDUCED permits any duplicate elimination between none and all
        # (spec §15.6) — the engine's set-semantics output is a legal
        # REDUCED answer, so it parses as DISTINCT
        self.distinct = self.kw("DISTINCT") or self.kw("REDUCED")
        kind, tok = self.peek()
        if kind == "op" and tok == "*":
            self.next()
            self.select = None
        else:
            self.select = []
            while True:
                kind, tok = self.peek()
                if kind == "var":
                    name = self.next()[1][1:]
                    self.select.append(name)
                    self.projection.append(("var", name))
                elif kind == "op" and tok == "(":
                    self.next()
                    k2, t2 = self.peek()
                    # an unknown keyword applied to an argument list is
                    # an unsupported aggregate/function: route it to
                    # agg_expr for the informative error (e.g. VARIANCE)
                    unknown_call = k2 == "kw" and (
                        t2.upper() not in self._EXPR_FUNCS
                        and t2.upper() not in self._AGG_FUNCS
                        and t2.upper() not in (
                            "BNODE", "RAND", "UUID", "STRUUID", "NOW"
                        )
                        and t2 != "a"
                        and self.toks[self.i + 1] == ("op", "(")
                    )
                    # aggregates may appear as OPERANDS of the
                    # projection expression (spec §18.2.4.1) — _agg_mode
                    # lets the scalar grammar parse them into EAggRef
                    self._agg_mode = True
                    try:
                        item = (
                            self.agg_expr()
                            if unknown_call
                            else self.scalar_expr()
                        )
                    finally:
                        self._agg_mode = False
                    self.expect("AS")
                    k2, t2 = self.next()
                    if k2 != "var":
                        raise SparqlParseError(
                            "SELECT expression needs 'AS ?alias'"
                        )
                    self.expect(")")
                    alias = t2[1:]
                    self.select.append(alias)
                    if isinstance(item, EAggRef):
                        # a bare aggregate keeps the legacy Agg item
                        # (fast path + HAVING column reuse)
                        a = item.agg
                        self.projection.append(
                            Agg(
                                a.func, a.var, a.distinct,
                                alias, a.sep, a.expr,
                            )
                        )
                    elif _expr_aggs(item):
                        self.projection.append(("aggexpr", alias, item))
                    else:
                        self.projection.append(("expr", alias, item))
                else:
                    break
            if not self.select:
                raise SparqlParseError("SELECT needs ?vars or *")
            if len(set(self.select)) != len(self.select):
                raise SparqlParseError(
                    "duplicate name in the SELECT clause"
                )
        self.dataset_clause()
        self.kw("WHERE")
        self.root = self.group_node(Const(DEFAULT_GRAPH))
        self.modifiers()
        if self.kw("VALUES"):
            # SubSelect and top-level Select both end with an optional
            # ValuesClause (§7.2.3), joined per §18.2.4.2's order
            self.trailing_values = self.values_block()

    def sub_select(self) -> SubSelect:
        """A ``{ SELECT ... }`` group element; the '{' and the SELECT
        keyword are already consumed. Parsed with a child parser sharing
        the token stream and prefix table."""
        child = _Parser("")
        child.toks = self.toks
        child.i = self.i
        child.prefixes = self.prefixes
        # query-execution-scoped generator state is SHARED with the
        # child: the ENdet call-site counter keeps sibling-subquery
        # UUID()/BNODE() streams distinct, and NOW() stays one fixed
        # instant across every scope (spec §17.4.5.1)
        child._ndet_site = self._ndet_site
        child._now_lex = self._now_lex
        child.select_query()
        if child.dataset_from or child.dataset_named:
            raise SparqlParseError(
                "FROM / FROM NAMED are top-level clauses, not allowed "
                "in a subquery"
            )
        self.i = child.i
        self._ndet_site = child._ndet_site
        if self._now_lex is None:
            self._now_lex = child._now_lex
        self.expect("}")
        return SubSelect(child)

    def group_node(self, graph, allow_filter=True) -> Group:
        self.expect("{")
        node = Group([], [])

        def bgp() -> Bgp:
            if not node.elems or not isinstance(node.elems[-1], Bgp):
                node.elems.append(Bgp([]))
            return node.elems[-1]

        def opt_dot():
            # GroupGraphPatternSub: GraphPatternNotTriples '.'? — the
            # separator after a GRAPH/OPTIONAL/MINUS/VALUES/{...} block
            # is optional but legal
            k2, t2 = self.peek()
            if k2 == "op" and t2 == ".":
                self.next()

        while True:
            kind, tok = self.peek()
            if kind == "op" and tok == "}":
                self.next()
                if not node.elems and not node.filters:
                    raise SparqlParseError("empty graph pattern group")
                return node
            if kind == "kw" and tok.upper() == "GRAPH":
                self.next()
                g = self.term()
                if isinstance(g, Const) and not g.value:
                    raise SparqlParseError("empty GRAPH iri")
                sub = self.group_node(g, allow_filter=allow_filter)
                if len(sub.elems) == 1 and isinstance(
                    sub.elems[0], Bgp
                ) and not sub.filters:
                    # pure triples: keep them in the enclosing join chain
                    bgp().patterns.extend(sub.elems[0].patterns)
                else:
                    node.elems.append(sub)
                opt_dot()
            elif kind == "kw" and tok.upper() == "OPTIONAL":
                self.next()
                node.elems.append(Opt(self.group_node(graph)))
                opt_dot()
            elif kind == "kw" and tok.upper() == "MINUS":
                self.next()
                node.elems.append(Minus(self.group_node(graph)))
                opt_dot()
            elif kind == "kw" and tok.upper() == "SERVICE":
                self.next()
                silent = bool(self.kw("SILENT"))
                t = self.term()
                if not isinstance(t, Const) or not t.value:
                    raise SparqlParseError(
                        "SERVICE needs a constant endpoint IRI "
                        "(variable endpoints are out of subset)"
                    )
                # the inner group's unscoped triples match the SERVICE
                # dataset's default graph, never the enclosing GRAPH
                node.elems.append(
                    ServiceNode(
                        t.value,
                        self.group_node(Const(DEFAULT_GRAPH)),
                        silent,
                    )
                )
                opt_dot()
            elif kind == "kw" and tok.upper() == "VALUES":
                self.next()
                node.elems.append(self.values_block())
                opt_dot()
            elif kind == "kw" and tok.upper() == "BIND":
                self.next()
                self.expect("(")
                expr = self.scalar_expr()
                self.expect("AS")
                k2, t2 = self.next()
                if k2 != "var":
                    raise SparqlParseError("BIND needs 'AS ?var'")
                self.expect(")")
                node.elems.append(BindNode(t2[1:], expr))
                k2, t2 = self.peek()
                if k2 == "op" and t2 == ".":
                    self.next()
            elif kind == "kw" and tok.upper() == "FILTER":
                if not allow_filter:
                    raise SparqlParseError(
                        "FILTER not allowed in a CONSTRUCT template"
                    )
                self.next()
                k2, t2 = self.peek()
                if k2 == "kw" and t2.upper() in ("EXISTS", "NOT"):
                    neg = t2.upper() == "NOT"
                    self.next()
                    if neg:
                        kind3, tok3 = self.next()
                        if tok3.upper() != "EXISTS":
                            raise SparqlParseError(
                                "expected EXISTS after FILTER NOT"
                            )
                    node.filters.append(
                        (
                            "not_exists" if neg else "exists",
                            self.group_node(graph),
                            None,
                        )
                    )
                else:
                    self.filter_expr(node, graph)
            elif kind == "op" and tok == "{":
                k2, t2 = self.toks[self.i + 1]
                if k2 == "kw" and t2.upper() == "SELECT":
                    self.next()
                    self.next()
                    node.elems.append(self.sub_select())
                    opt_dot()
                    continue
                branches = [self.group_node(graph)]
                while self.kw("UNION"):
                    branches.append(self.group_node(graph))
                node.elems.append(
                    UnionNode(branches) if len(branches) > 1 else branches[0]
                )
                opt_dot()
            else:
                self.triples_block(graph, bgp().patterns)

    _PATH_POSTFIX = {"+", "*", "?"}
    _PATH_OPS = {"+", "*", "?", "/", "|", "^", "("}

    def path_or_pred(self):
        """Predicate position: a variable, a bare constant predicate, or
        a property-path expression (``^``, ``/``, ``|``, ``+``, ``*``,
        ``?``, parenthesised)."""
        kind, tok = self.peek()
        if kind == "var":
            p = self.term(as_pred=True)
            k2, t2 = self.peek()
            if k2 == "op" and t2 in self._PATH_POSTFIX:
                raise SparqlParseError(
                    "property path needs a constant predicate"
                )
            return p
        node = self.path_alt()
        if isinstance(node, PPred):
            return Const(node.pred)  # no path operator involved
        return Path(node)

    def path_alt(self):
        parts = [self.path_seq()]
        while True:
            kind, tok = self.peek()
            if kind == "op" and tok == "|":
                self.next()
                parts.append(self.path_seq())
            else:
                break
        return parts[0] if len(parts) == 1 else PAlt(tuple(parts))

    def path_seq(self):
        parts = [self.path_elt()]
        while True:
            kind, tok = self.peek()
            if kind == "op" and tok == "/":
                self.next()
                parts.append(self.path_elt())
            else:
                break
        return parts[0] if len(parts) == 1 else PSeq(tuple(parts))

    def path_elt(self):
        kind, tok = self.peek()
        inv = False
        if kind == "op" and tok == "^":
            self.next()
            inv = True
        node = self.path_primary()
        if inv:
            node = PInv(node)
        kind, tok = self.peek()
        if kind == "op" and tok in self._PATH_POSTFIX:
            self.next()
            if tok == "+":
                node = PClos(node, min0=False)
            elif tok == "*":
                node = PClos(node, min0=True)
            else:
                node = POpt01(node)
        return node

    def path_primary(self):
        kind, tok = self.peek()
        if kind == "op" and tok == "!":
            # negated property set: !iri, !^iri, or !(iri | ^iri | ...)
            self.next()
            members = []
            k2, t2 = self.peek()
            if k2 == "op" and t2 == "(":
                self.next()
                members.append(self._nps_member())
                while self.peek() == ("op", "|"):
                    self.next()
                    members.append(self._nps_member())
                self.expect(")")
            else:
                members.append(self._nps_member())
            return PNps(
                fwd=tuple(p for is_inv, p in members if not is_inv),
                inv=tuple(p for is_inv, p in members if is_inv),
            )
        if kind == "op" and tok == "(":
            self.next()
            node = self.path_alt()
            self.expect(")")
            return node
        t = self.term(as_pred=True)
        if not isinstance(t, Const):
            raise SparqlParseError(
                "property path needs a constant predicate"
            )
        return PPred(t.value)

    def _nps_member(self):
        """One negated-property-set member: ``iri`` or ``^iri`` ->
        ``(is_inverse, predicate)``. Only constant predicates are legal
        in an NPS (spec grammar PathOneInPropertySet)."""
        is_inv = False
        if self.peek() == ("op", "^"):
            self.next()
            is_inv = True
        t = self.term(as_pred=True)
        if not isinstance(t, Const):
            raise SparqlParseError(
                "a negated property set takes constant predicates"
            )
        return (is_inv, t.value)

    def triples_block(self, graph, into):
        def flush():
            # property-list triples buffered by term() join this block
            # under its graph scope
            into.extend((a, b, c, graph) for a, b, c in self._pending)
            self._pending.clear()

        s = self.term(allow_bnode=True)
        kind, tok = self.peek()
        if (
            isinstance(s, Var)
            and s.name.startswith(BNODE_PREFIX)
            and self._pending
            and kind == "op"
            and tok in "}."
        ):
            # standalone property-list subject: [ p o ] .
            flush()
            if tok == ".":
                self.next()
            return
        while True:
            p = self.path_or_pred()
            while True:
                o = self.term(allow_bnode=True)
                into.append((s, p, o, graph))
                kind, tok = self.peek()
                if kind == "op" and tok == ",":
                    self.next()
                    continue
                break
            kind, tok = self.peek()
            if kind == "op" and tok == ";":
                self.next()
                # allow trailing ';' before '}' or '.'
                k2, t2 = self.peek()
                if k2 == "op" and t2 in "}.":
                    break
                continue
            break
        kind, tok = self.peek()
        if kind == "op" and tok == ".":
            self.next()
        flush()

    def values_block(self) -> ValuesBlock:
        """``VALUES ?x { t... }`` or ``VALUES (?x ?y) { (t t) ... }``;
        ``UNDEF`` leaves that variable unbound (null) in the row."""
        kind, tok = self.peek()
        if kind == "var":
            names = [self.next()[1][1:]]
            single = True
        elif kind == "op" and tok == "(":
            self.next()
            names = []
            while self.peek()[0] == "var":
                names.append(self.next()[1][1:])
            self.expect(")")
            if not names:
                raise SparqlParseError("VALUES needs at least one variable")
            single = False
        else:
            raise SparqlParseError("VALUES needs ?var or (?var ...)")

        def one_value():
            k, t = self.peek()
            if k == "kw" and t.upper() == "UNDEF":
                self.next()
                return None
            v = self.term()
            if isinstance(v, Var):
                raise SparqlParseError("VALUES rows take constants/UNDEF")
            return v.value

        rows = []
        self.expect("{")
        while True:
            k, t = self.peek()
            if k == "op" and t == "}":
                self.next()
                break
            if single:
                rows.append((one_value(),))
            else:
                self.expect("(")
                row = []
                for _ in names:
                    row.append(one_value())
                self.expect(")")
                rows.append(tuple(row))
        if not rows:
            raise SparqlParseError("empty VALUES block")
        return ValuesBlock(names, rows)

    _OPS = {"=", "!=", "<", "<=", ">", ">="}

    def filter_expr(self, node: Group, graph=None):
        """``FILTER ( boolean-expression )``: ``||`` (lowest precedence)
        over ``&&`` over atoms — comparisons, bound()/regex(), string
        tests, ``IN``/``NOT IN`` lists, ``[NOT] EXISTS { pattern }``
        operands (spec §17.4.1.4 — evaluated as a boolean membership
        column; only in FILTERs, where the enclosing graph context is
        known), and parenthesised boolean sub-expressions (negatable
        with ``!``, three-valued: ``!error`` stays error, spec §17.2).
        An opening ``(`` is ambiguous between a boolean group and a
        scalar operand (``(?a + 1) > 2``); the parser tries the boolean
        reading first and backtracks."""
        self.expect("(")
        node.filters.append(self._filter_or(graph))
        self.expect(")")

    def _filter_or(self, graph=None):
        parts = [self._filter_and(graph)]
        while self.peek() == ("op", "||"):
            self.next()
            parts.append(self._filter_and(graph))
        return parts[0] if len(parts) == 1 else ("or", parts, None)

    def _filter_and(self, graph=None):
        parts = [self._filter_atom(graph)]
        while self.peek() == ("op", "&&"):
            self.next()
            parts.append(self._filter_atom(graph))
        return parts[0] if len(parts) == 1 else ("and", parts, None)

    def _filter_atom(self, graph=None):
        kind, tok = self.peek()
        if kind == "kw" and tok.upper() in ("EXISTS", "NOT"):
            neg = tok.upper() == "NOT"
            nxt = self.toks[self.i + 1]
            if (not neg and nxt == ("op", "{")) or (
                neg
                and nxt[0] == "kw"
                and nxt[1].upper() == "EXISTS"
                and self.toks[self.i + 2] == ("op", "{")
            ):
                # EXISTS as a boolean OPERAND (spec §17.4.1.4): compiled
                # to a membership marker joined on the shared variables
                # (see _Eval._materialize_exists). EXISTS never errors,
                # so plain negation is exact.
                if graph is None:
                    raise SparqlParseError(
                        "EXISTS is only supported inside FILTER "
                        "expressions"
                    )
                self.next()
                if neg:
                    self.next()
                e = ("exists_expr", self.group_node(graph), None)
                return ("not", e, None) if neg else e
        if kind == "op" and tok == "!":
            self.next()
            k2, t2 = self.peek()
            if k2 == "op" and t2 == "(":
                # !( boolean-group ): three-valued negation (~null stays
                # null in Spark == SPARQL's !error = error, row dropped)
                self.next()
                e = self._filter_or(graph)
                self.expect(")")
                return ("not", e, None)
            if not (
                k2 == "kw"
                and t2.lower()
                in (
                    "bound", "regex", "strstarts", "strends", "contains",
                    "isiri", "isuri", "isblank", "isliteral", "isnumeric",
                    "sameterm", "langmatches",
                )
            ):
                raise SparqlParseError(
                    "'!' only negates bound()/regex()/string-test/"
                    "term-test functions or a parenthesised boolean"
                )
            op, *args = self._filter_atom()
            return ("!" + op, *args)
        if kind == "op" and tok == "(":
            # ambiguous: boolean group vs scalar operand parens — try the
            # boolean reading, backtrack to the comparison path on failure
            save = self.i
            try:
                self.next()
                e = self._filter_or(graph)
                self.expect(")")
                return e
            except SparqlParseError:
                self.i = save
        if kind == "kw" and tok.lower() in ("bound", "regex"):
            fn = self.next()[1].lower()
            self.expect("(")
            v = self.term()
            if not isinstance(v, Var):
                raise SparqlParseError(f"{fn}() needs a variable")
            if fn == "regex":
                self.expect(",")
                k2, pat = self.next()
                if k2 != "string":
                    raise SparqlParseError("regex() needs a string pattern")
                self.expect(")")
                return ("regex", v, Const(pat[1:-1]))
            self.expect(")")
            return ("bound", v, None)
        if kind == "kw" and tok.lower() in (
            "strstarts", "strends", "contains", "sameterm", "langmatches",
        ):
            fn = self.next()[1].lower()
            self.expect("(")
            a = self.scalar_expr()
            self.expect(",")
            b = self.scalar_expr()
            self.expect(")")
            return (fn, a, b)
        if kind == "kw" and tok.lower() in (
            "isiri", "isuri", "isblank", "isliteral", "isnumeric",
        ):
            # term-kind tests over the raw-lexeme convention (module
            # docstring): unary, any scalar expression argument
            fn = self.next()[1].lower()
            if fn == "isuri":
                fn = "isiri"  # spec synonym
            self.expect("(")
            a = self.scalar_expr()
            self.expect(")")
            return (fn, a, None)
        lhs = self._filter_operand()
        kind, op = self.peek()
        if kind == "kw" and op.upper() in ("IN", "NOT"):
            neg = op.upper() == "NOT"
            self.next()
            if neg:
                k2, t2 = self.next()
                if not (k2 == "kw" and t2.upper() == "IN"):
                    raise SparqlParseError("expected IN after NOT")
            self.expect("(")
            items = []
            if self.peek() != ("op", ")"):
                items.append(self.scalar_expr())
                while self.peek() == ("op", ","):
                    self.next()
                    items.append(self.scalar_expr())
            self.expect(")")
            return ("!in" if neg else "in", lhs, tuple(items))
        kind, op = self.next()
        if op not in self._OPS:
            raise SparqlParseError(f"unsupported FILTER operator {op!r}")
        return (op, lhs, self._filter_operand())

    def _filter_operand(self):
        """A FILTER comparison operand: any scalar expression (the same
        grammar BIND takes — variables, constants, unquoted integers,
        functions, ``+``/``-`` arithmetic)."""
        return self.scalar_expr()

    _EXPR_FUNCS = {
        "CONCAT", "COALESCE", "STR", "UCASE", "LCASE", "STRLEN", "SUBSTR",
        "STRBEFORE", "STRAFTER", "REPLACE", "MD5", "SHA256",
        "ABS", "SHA1", "SHA384", "SHA512", "ENCODE_FOR_URI",
        "LANG", "DATATYPE", "IRI", "URI", "STRLANG", "STRDT",
        "CEIL", "FLOOR", "ROUND",
        "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
        "TZ", "TIMEZONE",
        "IF",  # parsed by its own scalar_atom branch (boolean first arg);
        # listed here so SELECT items route (IF(...) AS ?v) to scalar_expr
    }
    _EXPR_UNARY = {
        "STR", "UCASE", "LCASE", "STRLEN", "MD5", "SHA256",
        "ABS", "SHA1", "SHA384", "SHA512", "ENCODE_FOR_URI",
        "LANG", "DATATYPE", "IRI", "URI", "CEIL", "FLOOR", "ROUND",
        "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
        "TZ", "TIMEZONE",
    }
    _EXPR_BINARY = {"STRBEFORE", "STRAFTER", "STRLANG", "STRDT"}

    def scalar_expr(self):
        """A BIND / SELECT-item scalar expression: additive chain over a
        multiplicative chain of atoms (``+``/``-``/``*`` are integer
        arithmetic over lexemes, ``*`` binding tighter — see
        :class:`EArith`); atoms are variables, constants, parenthesised
        expressions, or the supported function calls."""
        lhs = self._scalar_mul()
        while True:
            kind, tok = self.peek()
            if kind == "op" and tok in ("+", "-"):
                self.next()
                lhs = EArith(tok, lhs, self._scalar_mul())
            else:
                return lhs

    def _scalar_mul(self):
        lhs = self.scalar_atom()
        while self.peek() == ("op", "*"):
            self.next()
            lhs = EArith("*", lhs, self.scalar_atom())
        return lhs

    def scalar_atom(self):
        kind, tok = self.peek()
        if kind == "op" and tok == "(":
            self.next()
            e = self.scalar_expr()
            self.expect(")")
            return e
        if kind == "num":
            self.next()
            return NumConst(int(tok))
        if kind == "op" and tok == "-":
            # unary minus on an integer literal (the tokenizer keeps
            # '-' a bare op so binary minus still lexes; negation binds
            # to the literal only — SPARQL's signed NumericLiteral)
            self.next()
            kind2, tok2 = self.peek()
            if kind2 != "num":
                raise SparqlParseError(
                    "unary '-' is supported on integer literals only"
                )
            self.next()
            return NumConst(-int(tok2))
        if kind == "kw" and tok.upper() == "IF":
            # IF(boolean, then, else): the condition uses the FILTER
            # boolean grammar, the branches the scalar grammar
            self.next()
            self.expect("(")
            cond = self._filter_or()
            self.expect(",")
            then = self.scalar_expr()
            self.expect(",")
            other = self.scalar_expr()
            self.expect(")")
            return EIf(cond, then, other)
        if (
            kind == "kw"
            and getattr(self, "_agg_mode", False)
            and tok.upper() in self._AGG_FUNCS
        ):
            # aggregate-as-operand (SELECT projection expressions only;
            # _agg_mode is set while parsing a projection item)
            return EAggRef(self.agg_expr())
        if kind == "kw" and tok.upper() in (
            "BNODE", "RAND", "UUID", "STRUUID", "NOW"
        ):
            self.next()
            name = tok.upper()
            self.expect("(")
            arg = None
            if name == "BNODE" and self.peek() != ("op", ")"):
                arg = self.scalar_expr()
            self.expect(")")
            if name == "NOW":
                # §17.4.5.1: one fixed xsd:dateTime for the whole query
                # execution — captured once per parse (or pinned by
                # RIFY_SPARQL_NOW for reproducible runs)
                if self._now_lex is None:
                    import datetime as _dt
                    import os as _os

                    self._now_lex = _os.environ.get(
                        "RIFY_SPARQL_NOW"
                    ) or _dt.datetime.now(_dt.timezone.utc).strftime(
                        "%Y-%m-%dT%H:%M:%SZ"
                    )
                return Const(f'"{self._now_lex}"^^<{XSD_DATETIME}>')
            self._ndet_site += 1
            return ENdet(name, arg, self._ndet_site)
        if kind == "kw" and tok.upper() in self._EXPR_FUNCS:
            self.next()
            name = tok.upper()
            self.expect("(")
            args = [self.scalar_expr()]
            while self.peek() == ("op", ","):
                self.next()
                args.append(self.scalar_expr())
            self.expect(")")
            if name in self._EXPR_UNARY and len(args) != 1:
                raise SparqlParseError(f"{name}() takes one argument")
            if name in self._EXPR_BINARY and len(args) != 2:
                raise SparqlParseError(f"{name}() takes two arguments")
            if name == "REPLACE":
                if len(args) != 3 or not all(
                    isinstance(a, Const) for a in args[1:]
                ):
                    raise SparqlParseError(
                        "REPLACE takes (expr, \"pattern\", \"replacement\")"
                        " with string-literal pattern/replacement (Java "
                        "regex flavor, the regex() contract)"
                    )
            if name == "SUBSTR":
                if len(args) != 3 or not all(
                    isinstance(a, NumConst) for a in args[1:]
                ):
                    raise SparqlParseError(
                        "SUBSTR takes (expr, start, length) with integer "
                        "start/length (1-based, the SQL convention)"
                    )
                if args[1].value < 1 or args[2].value < 0:
                    raise SparqlParseError(
                        "SUBSTR start is 1-based and length non-negative"
                    )
            return EFunc(name, tuple(args))
        return self.term()

    _AGG_FUNCS = {
        "COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT",
    }

    def agg_expr(self) -> Agg:
        """``FUNC([DISTINCT] expr)`` or ``COUNT([DISTINCT] *)`` — the
        argument is any scalar expression from the BIND grammar (a plain
        variable keeps the var fast path; alias filled in by the
        caller). GROUP_CONCAT takes an optional ``; SEPARATOR =
        "..."``."""
        kind, tok = self.next()
        func = tok.upper()
        if kind != "kw" or func not in self._AGG_FUNCS:
            raise SparqlParseError(
                "expected aggregate COUNT/SUM/AVG/MIN/MAX/SAMPLE/"
                f"GROUP_CONCAT, got {tok!r}"
            )
        self.expect("(")
        distinct = self.kw("DISTINCT")
        kind, tok = self.peek()
        expr = None
        if kind == "op" and tok == "*":
            self.next()
            if func != "COUNT":
                raise SparqlParseError(f"{func}(*) is not an aggregate")
            var = None
        else:
            # any scalar expression (the BIND grammar); a plain variable
            # keeps the var fast path (and the legacy HAVING-reuse key)
            e = self.scalar_expr()
            if isinstance(e, Var):
                var = e.name
            else:
                var, expr = None, e
        sep = None
        kind, tok = self.peek()
        if kind == "op" and tok == ";":
            if func != "GROUP_CONCAT":
                raise SparqlParseError(
                    f"only GROUP_CONCAT takes a SEPARATOR, not {func}"
                )
            self.next()
            self.expect("SEPARATOR")
            self.expect("=")
            k2, t2 = self.next()
            if k2 != "string":
                raise SparqlParseError("SEPARATOR needs a string")
            sep = re.sub(
                r"\\.", lambda m: _UNESC.get(m.group(), m.group()),
                t2[1:-1],
            )
        self.expect(")")
        if func == "GROUP_CONCAT" and sep is None:
            sep = " "  # the SPARQL default separator
        return Agg(func, var, distinct, None, sep, expr)

    def modifiers(self):
        if self.kw("GROUP"):
            self.expect("BY")
            # keys: ?var or (expr AS ?alias) — the alias behaves exactly
            # like a BIND-then-GROUP-BY variable (selectable, grouped)
            while True:
                kind, tok = self.peek()
                if kind == "var":
                    self.group_by.append(self.next()[1][1:])
                elif kind == "op" and tok == "(":
                    self.next()
                    e = self.scalar_expr()
                    self.expect("AS")
                    k2, t2 = self.next()
                    if k2 != "var":
                        raise SparqlParseError(
                            "GROUP BY expression needs 'AS ?alias'"
                        )
                    self.expect(")")
                    self.group_exprs.append((t2[1:], e))
                    self.group_by.append(t2[1:])
                else:
                    break
            if not self.group_by:
                raise SparqlParseError("GROUP BY needs ?variables")
        if self.kw("HAVING"):
            save = self.i
            try:
                self._having_legacy()
            except SparqlParseError:
                # general constraint (§18.5's HAVING is any expression
                # over aggregates + group keys): a FILTER boolean tree
                # whose scalar operands may be aggregate calls, compiled
                # post-aggregation over the hidden lexeme columns — the
                # FILTER numeric-switch contract applies (so AVG stays
                # with the legacy integer-compare form)
                self.i = save
                self.having = []
                self._agg_mode = True
                try:
                    self.expect("(")
                    self.having_tree = self._filter_or()
                    self.expect(")")
                finally:
                    self._agg_mode = False
        self._order_limit()

    def _having_legacy(self):
        """The original HAVING subset: ``(AGG op const [&& ...])`` —
        native-dtype comparisons reusing selected aggregate columns."""
        self.expect("(")
        while True:
            agg = self.agg_expr()
            kind, op = self.next()
            if op not in self._OPS:
                raise SparqlParseError(
                    f"unsupported HAVING operator {op!r}"
                )
            kind, tok = self.next()
            if kind == "op" and tok == "-":
                kind, tok = self.next()
                if kind != "num":
                    raise SparqlParseError(
                        "unary '-' is supported on integer "
                        "literals only"
                    )
                kind, tok = "num", f"-{tok}"
            if kind == "num":
                val = int(tok)
                if agg.func not in ("COUNT", "SUM", "AVG"):
                    raise SparqlParseError(
                        f"HAVING {agg.func} compares string terms — "
                        "use a quoted constant"
                    )
            elif kind == "string":
                val = tok[1:-1]
                if agg.func in ("COUNT", "SUM", "AVG"):
                    raise SparqlParseError(
                        f"HAVING {agg.func} compares integers — "
                        "use a numeric constant"
                    )
            else:
                raise SparqlParseError(
                    "HAVING compares an aggregate to a constant"
                )
            self.having.append((agg, op, val))
            kind, tok = self.peek()
            if kind == "op" and tok == "&&":
                self.next()
                continue
            break
        self.expect(")")

    def _order_limit(self):
        if self.kw("ORDER"):
            self.expect("BY")
            # keys: ?var | [ASC|DESC]( scalar-expr ) | ( scalar-expr );
            # an arithmetic / numeric-constant expression orders
            # NUMERICALLY (the lexeme try_casts to BIGINT — the same
            # numeric switch as FILTERs, so ORDER BY DESC(?t + 0) is the
            # idiom for by-value ordering over the opaque term space)
            while True:
                kind, tok = self.peek()
                desc = False
                if kind == "kw" and tok.upper() in ("ASC", "DESC"):
                    desc = tok.upper() == "DESC"
                    self.next()
                    self.expect("(")
                    v = self.scalar_expr()
                    self.expect(")")
                elif kind == "var":
                    v = self.term()
                elif kind == "op" and tok == "(":
                    self.next()
                    v = self.scalar_expr()
                    self.expect(")")
                else:
                    break
                self.order.append((v, desc))
            if not self.order:
                raise SparqlParseError("ORDER BY needs a sort key")
        if self.kw("LIMIT"):
            kind, tok = self.next()
            if kind != "num":
                raise SparqlParseError("LIMIT needs an integer")
            self.limit = int(tok)
        if self.kw("OFFSET"):
            kind, tok = self.next()
            if kind != "num":
                raise SparqlParseError("OFFSET needs an integer")
            self.offset = int(tok)


def parse_select(text: str) -> _Parser:
    return _Parser(text).parse()


def _compile_bgp(patterns: list) -> tuple[LoweredRule, list]:
    """One BGP -> a LoweredRule body in the matcher's slot form
    (variables numbered by first appearance, constants in string space)."""
    slots: dict = {}
    body = []
    for quad in patterns:
        atom = []
        for t in quad:
            if isinstance(t, Var):
                atom.append(("v", slots.setdefault(t.name, len(slots))))
            else:
                atom.append(("c", t.value))
        body.append(atom)
    names = [n for n, _ in sorted(slots.items(), key=lambda kv: kv[1])]
    lrule = LoweredRule(
        index=0, body=body, head=[], n_vars=len(slots), canon_vars=names
    )
    return lrule, names


def _scalar_column(expr, bound: set, maybe: set, colf=F.col):
    """Compile a BIND / SELECT scalar expression to a string-typed Spark
    Column over a solution relation whose columns are ``bound``.
    ``colf`` resolves a variable name to its Column — the default is the
    relation's own column; the deferred-OPTIONAL-filter path passes a
    resolver over the two-sided pre-merge join namespace.

    Returns ``(column, can_be_null)``. The engine's term space is opaque
    strings (reference src/translator.rs generic Bound), so every
    expression value is a string lexeme: arithmetic try_casts operands to
    BIGINT (a non-integer lexeme nulls the result — SPARQL error-
    semantics, the numeric-FILTER contract) and renders back as the
    decimal lexeme; CONCAT/UCASE/LCASE/STRLEN/SUBSTR propagate NULL
    (an errored or unbound input leaves the target unbound, spec §10.1);
    COALESCE is SPARQL's own unbound-recovery function. A variable not
    in scope raises (vs silently-unbound: a never-bound expression
    variable is a query bug, matching the FILTER-variable check)."""

    def num(e):
        if isinstance(e, NumConst):
            return F.lit(e.value).cast("long")
        if isinstance(e, EArith):
            lo, ro = num(e.lhs), num(e.rhs)
            if e.op == "+":
                return lo + ro
            return lo - ro if e.op == "-" else lo * ro
        return s(e).try_cast("long")

    def num_can_null(e):
        if isinstance(e, NumConst):
            return False
        if isinstance(e, EArith):
            return num_can_null(e.lhs) or num_can_null(e.rhs)
        return True  # an opaque lexeme may fail the BIGINT cast

    def s(e):
        if isinstance(e, Var):
            if e.name not in bound:
                raise SparqlParseError(
                    f"?{e.name} is not in scope in this expression"
                )
            return colf(e.name)
        if isinstance(e, Const):
            return F.lit(e.value)
        if isinstance(e, NumConst):
            return F.lit(str(e.value))
        if isinstance(e, EArith):
            return num(e).cast("string")
        if isinstance(e, EIf):
            c = _condition_column(e.cond, bound, maybe, colf)
            # no otherwise: a NULL (errored) condition -> NULL result,
            # SPARQL's IF error semantics (§17.4.1.2)
            return F.when(c, s(e.then)).when(~c, s(e.other))
        if isinstance(e, ENdet):
            # deterministic instance of the spec's nondeterministic
            # generators (see ENdet): md5 over (call-site | argument,
            # bindings in sorted-variable order)
            if e.arg is not None:
                # BNODE(expr), §17.4.2.9: the node is a function of the
                # argument ALONE — same literal -> same node at every
                # call site within a solution (the spec requirement)
                # and, beyond it, across solutions too: deterministic
                # skolemization, the documented trade (the per-solution
                # bindings can't serve as the scope key because earlier
                # BIND-minted columns would join the basis and break
                # same-argument equality)
                a = _t_str(s(e.arg))
                h = F.md5(
                    F.concat_ws("\x1f", F.lit("BNODE"), a).cast("binary")
                )
                # an errored argument propagates (concat_ws would
                # silently drop the NULL otherwise)
                return F.when(
                    a.isNotNull(), F.concat(F.lit("_:"), h)
                )
            basis = [
                F.coalesce(colf(n), F.lit("\x00")) for n in sorted(bound)
            ]
            h = F.md5(
                F.concat_ws(
                    "\x1f", F.lit(f"{e.name}#{e.site}"), *basis
                ).cast("binary")
            )
            if e.name == "BNODE":
                return F.concat(F.lit("_:"), h)
            if e.name == "RAND":
                # a double in [0, 1): the first 13 hex digits (52 bits,
                # exactly representable) over 16^13, rendered as the
                # JVM double lexeme
                frac = F.conv(F.substring(h, 1, 13), 16, 10).cast(
                    "double"
                ) / F.lit(float(16**13))
                return frac.cast("string")
            u = F.concat_ws(
                "-",
                F.substring(h, 1, 8),
                F.substring(h, 9, 4),
                F.substring(h, 13, 4),
                F.substring(h, 17, 4),
                F.substring(h, 21, 12),
            )
            if e.name == "UUID":  # an IRI in the urn:uuid scheme (bare)
                return F.concat(F.lit("urn:uuid:"), u)
            return u  # STRUUID: a simple literal
        assert isinstance(e, EFunc), e
        if e.name == "CONCAT":
            return F.concat(*[s(a) for a in e.args])
        if e.name == "COALESCE":
            return F.coalesce(*[s(a) for a in e.args])
        if e.name == "STR":
            # term-aware (spec §17.4.2.5) under the raw-lexeme
            # convention: IRI -> itself (IRIs are stored bare), quoted
            # literal -> its lexical form, blank node -> error (NULL).
            # Over a legacy all-bare store this is the identity.
            return _t_str(s(e.args[0]))
        if e.name in ("IRI", "URI"):
            # §17.4.2.8: promote a literal's lexical form to an IRI; an
            # IRI passes through. IRIs are stored bare, so the result
            # lexeme is exactly the STR projection (blank -> error).
            return _t_str(s(e.args[0]))
        if e.name == "LANG":
            return _t_lang(s(e.args[0]))
        if e.name == "DATATYPE":
            return _t_datatype(s(e.args[0]))
        if e.name == "STRLANG":
            # §17.4.2.12: build a language-tagged literal in the raw
            # form '"value"@tag' from the STR projections of both args
            v, tag = _t_str(s(e.args[0])), _t_str(s(e.args[1]))
            return F.concat(F.lit('"'), v, F.lit('"@'), tag)
        if e.name == "STRDT":
            # §17.4.2.11: '"value"^^<datatype-iri>' (the datatype arg is
            # an IRI — bare lexeme — per the engine convention)
            v, dt = _t_str(s(e.args[0])), _t_str(s(e.args[1]))
            return F.concat(F.lit('"'), v, F.lit('"^^<'), dt, F.lit(">"))
        if e.name == "UCASE":
            return F.upper(s(e.args[0]))
        if e.name == "LCASE":
            return F.lower(s(e.args[0]))
        if e.name == "STRLEN":
            # character count rendered as a lexeme (the term space has no
            # integer type); SQL twin CAST(LENGTH(x) AS VARCHAR)
            return F.length(s(e.args[0])).cast("string")
        if e.name == "SUBSTR":
            return F.substring(
                s(e.args[0]), e.args[1].value, e.args[2].value
            )
        if e.name in ("STRBEFORE", "STRAFTER"):
            # spec §17.4.3.4/.5: empty-needle cases are "" / the whole
            # string, a missing needle is ""; a NULL (unbound/errored)
            # argument propagates. SQL twin: the same CASE over
            # strpos()/substr().
            ss, tt = s(e.args[0]), s(e.args[1])
            pos = F.position(tt, ss)
            head = F.when(
                ss.isNull() | tt.isNull(), F.lit(None).cast("string")
            )
            if e.name == "STRBEFORE":
                return (
                    head.when(F.length(tt) == 0, F.lit(""))
                    .when(pos > 0, F.substr(ss, F.lit(1), pos - F.lit(1)))
                    .otherwise(F.lit(""))
                )
            return (
                head.when(F.length(tt) == 0, ss)
                .when(
                    pos > 0,
                    F.substr(ss, pos + F.length(tt), F.length(ss)),
                )
                .otherwise(F.lit(""))
            )
        if e.name == "REPLACE":
            # global regex replace, Java flavor (Spark regexp_replace) —
            # the documented regex() divergence from SPARQL's XPath
            # flavor; SQL twin regexp_replace(..., 'g')
            return F.regexp_replace(
                s(e.args[0]), e.args[1].value, e.args[2].value
            )
        if e.name == "MD5":
            # lowercase hex over the UTF-8 bytes — DuckDB md5() agrees
            return F.md5(s(e.args[0]).cast("binary"))
        if e.name == "SHA256":
            return F.sha2(s(e.args[0]).cast("binary"), 256)
        if e.name == "SHA1":
            # lowercase hex, spec §17.4.4.4; unit-tested against
            # hashlib (this DuckDB build has no sha1, so no gate twin)
            return F.sha1(s(e.args[0]).cast("binary"))
        if e.name in ("SHA384", "SHA512"):
            return F.sha2(s(e.args[0]).cast("binary"), int(e.name[3:]))
        if e.name == "ABS":
            # numeric function over the integer-lexeme model (the
            # arithmetic contract): try_cast to BIGINT — a non-integer
            # lexeme nulls the result (error-semantics) — rendered back
            # as the decimal lexeme. SQL twin
            # CAST(ABS(TRY_CAST(x AS BIGINT)) AS VARCHAR).
            return F.abs(s(e.args[0]).try_cast("long")).cast("string")
        if e.name in ("CEIL", "FLOOR", "ROUND"):
            # over the integer-lexeme model every argument is already
            # integral, so these are the identity on valid inputs and an
            # error (NULL) on non-integer lexemes — the normalizing
            # round-trip also canonicalizes "+7"/"007" to "7"
            return s(e.args[0]).try_cast("long").cast("string")
        if e.name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES"):
            # §17.4.5: integer field accessors over xsd:dateTime typed
            # literals, rendered as bare decimal lexemes (the integer
            # model) — the long round-trip strips the lexical zero
            # padding ("03" -> "3"); wrong-kind / unparseable input
            # errors (NULL). SQL twin: the same regexp_extract +
            # TRY_CAST over the shared _DT_LEX_RE.
            grp = {
                "YEAR": 1, "MONTH": 2, "DAY": 3, "HOURS": 4, "MINUTES": 5,
            }[e.name]
            part = _t_datetime_part(s(e.args[0]), grp)
            return part.try_cast("long").cast("string")
        if e.name == "SECONDS":
            # §17.4.5.6 returns xsd:decimal; the opaque-lexeme model
            # keeps the lexical seconds field (fraction preserved as
            # written) with the zero padding stripped — "07.25" ->
            # "7.25" — so both engines agree bit-for-bit without a
            # decimal type. regexp_replace backreference syntax differs
            # ($1 Java, \1 RE2) but the twin owns its own spelling.
            fld = _t_datetime_part(s(e.args[0]), 6)
            return F.regexp_replace(fld, r"^0(\d)", r"$1")
        if e.name == "TZ":
            # §17.4.5.8: the timezone designator as a simple literal —
            # "Z", "+05:30", ... or "" when the lexeme carries none
            return _t_datetime_part(s(e.args[0]), 7)
        if e.name == "TIMEZONE":
            # §17.4.5.7: the timezone as an xsd:dayTimeDuration typed
            # literal in the raw convention ('"PT0S"^^<...>'); a lexeme
            # WITHOUT a timezone is an error (NULL) — F.concat
            # propagates the NULL through the wrapper
            tz = _t_datetime_part(s(e.args[0]), 7)
            hh = F.substring(tz, 2, 2).try_cast("long")
            mm = F.substring(tz, 5, 2).try_cast("long")
            dur = F.when(
                (tz == "Z") | ((hh == 0) & (mm == 0)), F.lit("PT0S")
            ).when(
                tz != "",
                F.concat(
                    F.when(tz.startswith("-"), F.lit("-")).otherwise(
                        F.lit("")
                    ),
                    F.lit("PT"),
                    F.when(
                        hh > 0, F.concat(hh.cast("string"), F.lit("H"))
                    ).otherwise(F.lit("")),
                    F.when(
                        mm > 0, F.concat(mm.cast("string"), F.lit("M"))
                    ).otherwise(F.lit("")),
                ),
            )
            return F.concat(
                F.lit('"'), dur, F.lit('"^^<' + XSD_DAYTIMEDURATION + ">")
            )
        if e.name == "ENCODE_FOR_URI":
            # spec §17.4.3.12: percent-encode everything outside RFC 3986
            # unreserved (ALPHA / DIGIT / '-' / '.' / '_' / '~'),
            # uppercase hex over the UTF-8 bytes. Spark's url_encode is
            # Java URLEncoder (form encoding), patched to RFC 3986: '+'
            # (its space form; a literal '+' already left as %2B) back to
            # %20, raw '*' (left unescaped) to %2A, and %7E (it escapes
            # '~') back to '~' — each replace provably unambiguous
            # because the pre-image cannot survive the encoder.
            enc = F.url_encode(s(e.args[0]))
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
            return F.replace(enc, F.lit("%7E"), F.lit("~"))
        raise AssertionError(e.name)

    def can_null(e):
        if isinstance(e, (Const, NumConst)):
            return False
        if isinstance(e, Var):
            return e.name in maybe
        if isinstance(e, EArith):
            return num_can_null(e)
        if isinstance(e, EIf):
            # the condition may error (NULL) even over sure-bound
            # inputs (e.g. a numeric cast), so IF is always
            # possibly-unbound — conservative but safe: downstream
            # joins just use the compatible-mappings machinery
            return True
        if isinstance(e, ENdet):
            # the bindings basis coalesces unbound slots; only
            # BNODE(expr) can error (its argument's STR projection)
            return e.arg is not None
        if e.name == "COALESCE":
            return all(can_null(a) for a in e.args)
        if e.name == "SUBSTR":
            return can_null(e.args[0])
        if e.name in ("ABS", "CEIL", "FLOOR", "ROUND"):
            # the try_cast can null a NON-null input (non-integer
            # lexeme) — the same rule as arithmetic
            return num_can_null(e.args[0])
        if e.name in ("STR", "IRI", "URI", "LANG", "DATATYPE",
                      "STRLANG", "STRDT", "YEAR", "MONTH", "DAY",
                      "HOURS", "MINUTES", "SECONDS", "TZ", "TIMEZONE"):
            # term projections error (NULL) on the wrong term kind —
            # STR/IRI on blanks, LANG/DATATYPE on non-literals — even
            # over a sure-bound input
            return True
        return any(can_null(a) for a in e.args)

    return s(expr), can_null(expr)


@dataclass
class _Sol:
    """A group element's solution relation: a DataFrame whose columns are
    the bound variable names (plus possibly a unique existence-gate
    column), and which of those variables can be null (unbound) — the
    OPTIONAL / partial-UNION vars the subset restriction tracks."""

    df: DataFrame
    bound: set
    maybe: set


class _Eval:
    def __init__(
        self,
        quads: DataFrame,
        *,
        graph_var_hides_default=False,
        services: dict | None = None,
    ):
        self.quads = quads.select("s", "p", "o", "g")
        self.spark = quads.sparkSession
        self.services = services
        self._gate_n = 0
        # spec §13.2: under explicit FROM / FROM NAMED dataset clauses a
        # variable GRAPH pattern ranges over the NAMED graphs only, never
        # the constructed default graph. Without dataset clauses the
        # engine keeps its plain 4th-slot semantics (``GRAPH ?g`` binds
        # whatever the g column holds — documented in the module
        # docstring), so the exclusion is scoped to dataset queries.
        self._hide_default = graph_var_hides_default

    def bgp(self, patterns: list) -> _Sol:
        plain = [q for q in patterns if not isinstance(q[1], Path)]
        paths = [q for q in patterns if isinstance(q[1], Path)]
        acc: _Sol | None = None
        if plain:
            acc = self._plain_bgp(plain)
        for pat in paths:
            s = self._path_closure(pat)
            acc = s if acc is None else self.join(acc, s, "inner")
        assert acc is not None  # parser guarantees non-empty BGPs
        if self._hide_default:
            gvars = {
                q[3].name
                for q in patterns
                if isinstance(q[3], Var) and q[3].name in acc.bound
            }
            for n in gvars:
                acc = _Sol(
                    acc.df.filter(F.col(n) != DEFAULT_GRAPH),
                    acc.bound, acc.maybe,
                )
        return acc

    def _plain_bgp(self, patterns: list) -> _Sol:
        lrule, names = _compile_bgp(patterns)
        df = bindings(self.quads, lrule)
        if names:
            df = df.select(
                *[F.col(f"v{i}").alias(n) for i, n in enumerate(names)]
            )
        else:
            # fully-constant BGP: a 0-or-1-row existence gate; unique
            # column name so gates from sibling elements can cross-join
            self._gate_n += 1
            df = df.select(F.lit(1).alias(f"__gate{self._gate_n}"))
        return _Sol(df, set(names), set())

    def _graph_scoped(self, g_t) -> DataFrame:
        if isinstance(g_t, Const):
            return self.quads.filter(F.col("g") == g_t.value)
        return self.quads

    def _path_edges(self, node, g_t) -> DataFrame:
        """A path-expression tree -> its edge relation ``(s, o, g)``.

        Leaves are constant-predicate scans (pushed-down filters on the
        quad store); ``^`` flips columns (free); ``/`` composes by an
        equi-join on the middle node within the same graph; ``|`` unions;
        ``+``/``*`` hand the edge set to the inference engine's fixpoint
        (pure-TC shape -> the O(log depth) smart-TC strategy). Every
        combinator deduplicates — the whole SPARQL path algebra here is
        set-semantics, matching the engine's Reasoner::insert contract
        (and SPARQL's own distinct-node semantics for closures; for
        ``/`` and ``|`` SPARQL is bag-semantics, a documented
        divergence)."""
        if isinstance(node, PPred):
            e = self._graph_scoped(g_t).filter(F.col("p") == node.pred)
            return e.select("s", "o", "g")
        if isinstance(node, PInv):
            e = self._path_edges(node.child, g_t)
            return e.select(
                F.col("o").alias("s"), F.col("s").alias("o"), "g"
            )
        if isinstance(node, PSeq):
            acc = self._path_edges(node.parts[0], g_t)
            for part in node.parts[1:]:
                nxt = self._path_edges(part, g_t)
                acc = (
                    acc.alias("l")
                    .join(
                        nxt.alias("r"),
                        (F.col("l.o") == F.col("r.s"))
                        & (F.col("l.g") == F.col("r.g")),
                    )
                    .select(
                        F.col("l.s").alias("s"),
                        F.col("r.o").alias("o"),
                        F.col("l.g").alias("g"),
                    )
                    .distinct()
                )
            return acc
        if isinstance(node, PAlt):
            acc = self._path_edges(node.parts[0], g_t)
            for part in node.parts[1:]:
                acc = acc.unionByName(self._path_edges(part, g_t))
            return acc.distinct()
        if isinstance(node, PClos):
            cl = self._closure_of(self._path_edges(node.child, g_t))
            if node.min0:
                cl = cl.unionByName(self._path_identity(g_t)).distinct()
            return cl
        if isinstance(node, POpt01):
            e = self._path_edges(node.child, g_t)
            return e.unionByName(self._path_identity(g_t)).distinct()
        if isinstance(node, PNps):
            # anti-membership scan predicates (pushed down like the
            # constant-predicate leaves); a pure-inverse set has no
            # forward leg and vice versa (spec §18.2.2.1). Distinct
            # because several surviving predicates can relate the same
            # (s, o) — the path algebra here is set-semantics.
            q = self._graph_scoped(g_t)
            legs = []
            if node.fwd:
                legs.append(
                    q.filter(~F.col("p").isin(*node.fwd))
                    .select("s", "o", "g")
                )
            if node.inv:
                legs.append(
                    q.filter(~F.col("p").isin(*node.inv)).select(
                        F.col("o").alias("s"), F.col("s").alias("o"), "g"
                    )
                )
            acc = legs[0]
            for leg in legs[1:]:
                acc = acc.unionByName(leg)
            return acc.distinct()
        raise AssertionError(f"unknown path node {node!r}")

    def _path_identity(self, g_t) -> DataFrame:
        """The zero-length path: every node related to itself, per graph.
        'Node' = any term occurring as a subject or object in the
        (graph-scoped) data — a term appearing only in predicate
        position, or not at all, is outside the identity (a documented
        divergence from SPARQL's all-terms zero-length semantics)."""
        q = self._graph_scoped(g_t)
        nodes = (
            q.select(F.col("s").alias("n"), "g")
            .unionByName(q.select(F.col("o").alias("n"), "g"))
            .distinct()
        )
        return nodes.select(
            F.col("n").alias("s"), F.col("n").alias("o"), "g"
        )

    def _closure_of(self, edges: DataFrame) -> DataFrame:
        """Transitive closure of an ``(s, o, g)`` edge relation — BY THE
        ENGINE: the edges become premises of the copy+transitivity rule
        pair, infer_df detects the pure-TC shape and runs the smart-TC
        (repeated-squaring) strategy, so a 10^4-deep chain costs
        O(log depth) rounds, not O(depth)."""
        from .api import infer_df
        from .rules import Bound as RB, Rule, Unbound as RU

        edge = "\x02e"  # internal predicates, unmintable from query text
        head = "\x02tc"
        prem = edges.select(
            "s", F.lit(edge).alias("p"), "o", "g"
        )
        rules = [
            Rule.create(
                [[RU("a"), RB(edge), RU("b"), RU("g")]],
                [[RU("a"), RB(head), RU("b"), RU("g")]],
            ),
            Rule.create(
                [
                    [RU("a"), RB(head), RU("b"), RU("g")],
                    [RU("b"), RB(head), RU("c"), RU("g")],
                ],
                [[RU("a"), RB(head), RU("c"), RU("g")]],
            ),
        ]
        derived, _res = infer_df(self.spark, prem, rules)
        return derived.filter(F.col("p") == head).select("s", "o", "g")

    def _path_closure(self, pat) -> _Sol:
        """Bind a path pattern's endpoints over its edge relation."""
        s_t, path, o_t, g_t = pat
        cl = self._path_edges(path.expr, g_t)
        bound: set = set()
        cols = []
        for colname, t in (("s", s_t), ("o", o_t), ("g", g_t)):
            if isinstance(t, Var):
                if t.name in bound:
                    # repeated variable: intra-row equality
                    first = next(
                        c for c, tt in (("s", s_t), ("o", o_t), ("g", g_t))
                        if isinstance(tt, Var) and tt.name == t.name
                    )
                    cl = cl.filter(F.col(colname) == F.col(first))
                else:
                    bound.add(t.name)
                    cols.append(F.col(colname).alias(t.name))
            else:
                cl = cl.filter(F.col(colname) == t.value)
        if not cols:
            self._gate_n += 1
            return _Sol(
                cl.select(F.lit(1).alias(f"__gate{self._gate_n}")).limit(1),
                set(), set(),
            )
        return _Sol(cl.select(*cols), bound, set())

    @staticmethod
    def _lexeme_cast(sol: _Sol, cols) -> _Sol:
        """Re-enter the opaque string term space for ``cols``: aggregate
        aliases from a subquery (COUNT/SUM are BIGINT columns) become
        their decimal lexemes before being compared/merged with pattern
        variables — an ANSI-mode long-vs-string comparison would
        otherwise try to cast the pattern lexeme to BIGINT and throw on
        non-numeric terms. Non-shared aliases keep their dtype (the
        top-level output schema is unaffected)."""
        casts = {c for c, t in sol.df.dtypes if c in cols and t != "string"}
        if not casts:
            return sol
        df = sol.df.select(
            *[
                F.col(c).cast("string").alias(c) if c in casts else F.col(c)
                for c in sol.df.columns
            ]
        )
        return _Sol(df, sol.bound, sol.maybe)

    def join(self, a: _Sol, b: _Sol, how: str, filters=None) -> _Sol:
        shared = sorted(a.bound & b.bound)
        if shared:
            a = self._lexeme_cast(a, set(shared))
            b = self._lexeme_cast(b, set(shared))
        maybe_shared = [v for v in shared if v in a.maybe or v in b.maybe]
        sure = [v for v in shared if v not in maybe_shared]
        if filters:
            # OPTIONAL with deferred filters: the spec's LeftJoin
            # condition — match only when the shared keys agree AND the
            # filter holds over the merged row; a left row with no such
            # partner survives alone (nulls on the right). With no shared
            # variable the filter itself is the only join condition (a
            # conditioned nested-loop — stated, not hidden).
            df = self._filtered_left_join(a, b, sure, maybe_shared, filters)
        elif shared and not maybe_shared:
            df = a.df.join(b.df, on=shared, how=how)
        elif shared:
            df = self._compat_join(a.df, b.df, sure, maybe_shared, how)
        elif how == "left":
            raise SparqlParseError(
                "OPTIONAL must share at least one variable with the "
                "preceding part of its group"
            )
        else:
            df = a.df.crossJoin(b.df)
        maybe = (a.maybe | b.maybe) - set(maybe_shared)
        for v in maybe_shared:
            # the merged column is coalesce(a.v, b.v): still unbound only
            # when the a side is null AND the b side is null (inner) or
            # null-or-missing (left-join miss)
            if v in a.maybe and (v in b.maybe or how == "left"):
                maybe.add(v)
        if how == "left":
            maybe |= b.bound - set(shared)
        return _Sol(df, a.bound | b.bound, maybe)

    def _filtered_left_join(
        self, a: _Sol, b: _Sol, sure: list, maybe_shared: list,
        filters: list,
    ) -> DataFrame:
        """LeftJoin(A, B, expr) — spec §18.2.2.2: a FILTER written inside
        an OPTIONAL group that references variables bound OUTSIDE it is
        part of the left-join condition, not a post-join filter (the two
        differ exactly on the rows the condition rejects: they must come
        back as left-side rows with an unbound right side).

        Shape: B's shared columns rename to ``__r_*`` so both sides stay
        addressable; the join condition is the equi/compat key agreement
        AND the compiled filters, with variables resolved over the merged
        namespace (a maybe-shared variable reads ``coalesce(a, b)``, a
        sure-shared one reads the A side — equal under the key
        condition). When a definitely-bound shared key exists Catalyst
        still plans a hash join with the filters as post-match join
        conditions — the at-scale shape."""
        merged_bound = a.bound | b.bound
        merged_maybe = a.maybe | b.maybe

        def extra(ren):
            def colf(name):
                if name in maybe_shared:
                    return F.coalesce(F.col(name), F.col(ren[name]))
                # sure-shared -> the A side (equal under the key
                # condition); A-only and B-only names are unambiguous
                # after the rename
                return F.col(name)

            return [
                _condition_column(f, merged_bound, merged_maybe, colf)
                for f in filters
            ]

        return self._compat_join(
            a.df, b.df, sure, maybe_shared, "left", extra
        )

    def _compat_join(
        self, left: DataFrame, right: DataFrame,
        sure: list, maybe_shared: list, how: str, extra=None,
    ) -> DataFrame:
        """SPARQL compatible-mappings join (spec §18.5 Join) when some
        shared variables are possibly-unbound (OPTIONAL / partial-UNION):
        an unbound (null) variable is compatible with ANY value on the
        other side, and the merged solution takes the bound one
        (``coalesce``). Definitely-bound shared vars stay plain equi-join
        keys, so whenever one exists Catalyst plans a hash join with the
        per-var compatibility predicates as post-match join filters — the
        at-scale shape. With NO definitely-bound key, an inner join is
        decomposed on the first maybe-var's null split into four disjoint
        legs, so the dominant bound=bound mass still equi-joins and only
        the null slices (OPTIONAL-miss / UNION-miss rows) pay a
        nested-loop leg against the other side. A LEFT join with no
        definitely-bound key keeps the single conditioned join
        (BroadcastNestedLoop) — stated, not hidden: that shape means an
        OPTIONAL whose every link to its group is itself optional.

        ``extra``: a callback ``ren -> [Column]`` producing additional
        join conditions over the renamed two-sided namespace — the
        deferred-OPTIONAL-filter (LeftJoin condition) path; only legal
        with ``how='left'`` (which always takes the single conditioned
        join, never the null-split decomposition)."""
        assert extra is None or how == "left"
        ren = {v: f"__r_{v}" for v in sure + maybe_shared}
        for v, rv in ren.items():
            right = right.withColumnRenamed(v, rv)

        def compat(v):
            rv = ren[v]
            return (
                F.col(v).isNull()
                | F.col(rv).isNull()
                | (F.col(v) == F.col(rv))
            )

        def conj(conds):
            if not conds:
                return F.lit(True)
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out

        eq = [F.col(v) == F.col(ren[v]) for v in sure]
        if sure or how == "left":
            df = left.join(
                right,
                conj(
                    eq
                    + [compat(v) for v in maybe_shared]
                    + (extra(ren) if extra is not None else [])
                ),
                how,
            )
        else:
            v0, rest = maybe_shared[0], maybe_shared[1:]
            rv0 = ren[v0]
            rest_c = [compat(v) for v in rest]
            l_b = left.filter(F.col(v0).isNotNull())
            l_n = left.filter(F.col(v0).isNull())
            r_b = right.filter(F.col(rv0).isNotNull())
            r_n = right.filter(F.col(rv0).isNull())
            df = l_b.join(
                r_b, conj([F.col(v0) == F.col(rv0)] + rest_c), "inner"
            )
            for lhs, rhs in ((l_b, r_n), (l_n, r_b), (l_n, r_n)):
                df = df.unionByName(lhs.join(rhs, conj(rest_c), "inner"))
        merged = [
            F.coalesce(F.col(v), F.col(ren[v])).alias(v)
            for v in maybe_shared
        ]
        drop = set(ren.values()) | set(maybe_shared)
        keep = [c for c in df.columns if c not in drop]
        return df.select(*[F.col(c) for c in keep], *merged)

    def union(self, u: UnionNode) -> _Sol:
        sols = [self.group(br) for br in u.branches]
        allv = sorted(set().union(*[s.bound for s in sols]))
        if not allv:
            raise SparqlParseError("UNION branches bind no variables")
        dfs = [
            s.df.select(
                *[
                    F.col(v) if v in s.bound
                    else F.lit(None).cast("string").alias(v)
                    for v in allv
                ]
            )
            for s in sols
        ]
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
        common = set.intersection(*[s.bound for s in sols])
        maybe = set().union(*[s.maybe for s in sols]) | (set(allv) - common)
        return _Sol(df, set(allv), maybe)

    def values_sol(self, vb: ValuesBlock) -> _Sol:
        """A VALUES block as a solution relation: a driver-local constant
        table (broadcastable by size); an UNDEF cell is a null —
        possibly-unbound, so later joins use compatible-mappings."""
        df = self.spark.createDataFrame(
            vb.rows, ", ".join(f"{n} string" for n in vb.names)
        )
        return _Sol(
            df,
            set(vb.names),
            {
                n
                for i, n in enumerate(vb.names)
                if any(r[i] is None for r in vb.rows)
            },
        )

    def semi(self, acc: _Sol, s: _Sol, anti: bool, minus: bool) -> _Sol:
        """EXISTS / NOT EXISTS / MINUS: a semi or anti join that adds no
        columns. MINUS over disjoint variable domains removes nothing
        (SPARQL's spec'd difference from NOT EXISTS, which gates on the
        sub-pattern having any match at all). Possibly-unbound shared
        variables use compatible-mappings semantics: a null on either
        side is compatible with anything; for MINUS the domains must
        additionally intersect PER ROW — at least one shared variable
        bound (non-null) on both sides — else that pair removes nothing
        (spec §18.5 Minus). Definitely-bound shared vars remain plain
        equi keys, so the join stays hash-planned whenever one exists."""
        shared = sorted(acc.bound & s.bound)
        if shared:
            acc = self._lexeme_cast(acc, set(shared))
            s = self._lexeme_cast(s, set(shared))
        maybe_shared = [
            v for v in shared if v in acc.maybe or v in s.maybe
        ]
        sure = [v for v in shared if v not in maybe_shared]
        if shared:
            right = s.df.select(
                *[F.col(v).alias(f"__x_{v}") for v in shared]
            )
            conds = [F.col(v) == F.col(f"__x_{v}") for v in sure]
            conds += [
                F.col(v).isNull()
                | F.col(f"__x_{v}").isNull()
                | (F.col(v) == F.col(f"__x_{v}"))
                for v in maybe_shared
            ]
            if minus and not sure:
                dom = None
                for v in shared:
                    c = (
                        F.col(v).isNotNull()
                        & F.col(f"__x_{v}").isNotNull()
                    )
                    dom = c if dom is None else dom | c
                conds.append(dom)
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            df = acc.df.join(
                right, cond, "left_anti" if anti else "left_semi"
            )
        elif minus:
            return acc
        else:
            gate = s.df.limit(1)
            df = acc.df.join(
                gate, F.lit(True), "left_anti" if anti else "left_semi"
            )
        return _Sol(df, acc.bound, acc.maybe)

    def group(self, node: Group, defer: list | None = None) -> _Sol:
        """Evaluate one group. ``defer`` (OPTIONAL bodies only): filters
        referencing variables not bound in this group are appended to it
        instead of raising — the caller folds them into the LeftJoin
        condition."""
        acc: _Sol | None = None
        for e in node.elems:
            if isinstance(e, Opt):
                if acc is None:
                    raise SparqlParseError(
                        "OPTIONAL cannot be the first element of a group"
                    )
                # FILTERs inside the OPTIONAL group that reference
                # variables NOT bound inside it are the spec's LeftJoin
                # condition (§18.2.2.2): they defer out of the group and
                # evaluate over the merged pre-join namespace. Filters
                # fully bound inside stay in-group — LeftJoin(A, Filter
                # (e, B), true) == LeftJoin(A, B, e) when e's domain is
                # within B, so that path is unchanged (and stays a plain
                # equi left join).
                deferred: list = []
                s = self.group(e.node, deferred)
                acc = self.join(acc, s, "left", deferred or None)
                continue
            if isinstance(e, Minus):
                if acc is None:
                    raise SparqlParseError(
                        "MINUS cannot be the first element of a group"
                    )
                acc = self.semi(
                    acc, self.group(e.node), anti=True, minus=True
                )
                continue
            if isinstance(e, BindNode):
                if acc is not None and e.name in acc.bound:
                    raise SparqlParseError(
                        f"BIND target ?{e.name} is already bound in its "
                        "group (the target must be a fresh variable)"
                    )
                if acc is None:
                    # BIND over the empty solution: one row; the
                    # expression can reference no variables
                    col, nullable = _scalar_column(e.expr, set(), set())
                    acc = _Sol(
                        self.spark.range(1).select(col.alias(e.name)),
                        {e.name},
                        {e.name} if nullable else set(),
                    )
                else:
                    col, nullable = _scalar_column(
                        e.expr, acc.bound, acc.maybe
                    )
                    acc = _Sol(
                        acc.df.withColumn(e.name, col),
                        acc.bound | {e.name},
                        acc.maybe | ({e.name} if nullable else set()),
                    )
                continue
            if isinstance(e, Bgp):
                s = self.bgp(e.patterns)
            elif isinstance(e, UnionNode):
                s = self.union(e)
            elif isinstance(e, SubSelect):
                s = _select_solution(self, e.q)
            elif isinstance(e, ValuesBlock):
                s = self.values_sol(e)
            elif isinstance(e, ServiceNode):
                store = (self.services or {}).get(e.iri)
                if store is None:
                    if not e.silent:
                        raise SparqlParseError(
                            f"SERVICE <{e.iri}> is not registered — "
                            "pass services={iri: quad DataFrame}"
                        )
                    # spec §13: SILENT failure degrades to the unit
                    # solution (join identity)
                    s = _Sol(self.spark.range(1).select(), set(), set())
                else:
                    s = _Eval(store, services=self.services).group(e.node)
            else:
                s = self.group(e)
            acc = s if acc is None else self.join(acc, s, "inner")
        if acc is None:
            raise SparqlParseError("empty graph pattern")
        # group-scoped filters; a comparison on a null (unbound) value is
        # three-valued-false in Spark, i.e. the row is excluded — matching
        # SPARQL's error-semantics for FILTER over unbound variables.
        # Spark's null logic IS SPARQL's three-valued error table (§17.2):
        # error||true = true, error&&false = false, error elsewhere
        # propagates and the FILTER drops the row.
        for entry in node.filters:
            if entry[0] in ("exists", "not_exists"):
                acc = self.semi(
                    acc,
                    self.group(entry[1]),
                    anti=entry[0] == "not_exists",
                    minus=False,
                )
                continue
            # a FILTER that is nothing but one (negated) EXISTS operand
            # reduces to the same semi/anti plan as the keyword form
            if entry[0] == "exists_expr":
                acc = self.semi(
                    acc, self.group(entry[1]), anti=False, minus=False
                )
                continue
            if (
                entry[0] == "not"
                and isinstance(entry[1], tuple)
                and entry[1][0] == "exists_expr"
            ):
                acc = self.semi(
                    acc, self.group(entry[1][1]), anti=True, minus=False
                )
                continue
            if defer is not None:
                fv = _cond_vars(entry)
                # stay in-group ONLY when every filter var is SURELY
                # bound inside the group (there LeftJoin(A, Filter(e,B),
                # true) == LeftJoin(A, B, e)); a var that is merely
                # maybe-bound here may take its value from the OUTER
                # side of the merge, so those defer too
                if fv is not None and not fv <= (acc.bound - acc.maybe):
                    defer.append(entry)
                    continue
            entry, acc, markers = self._materialize_exists(entry, acc)
            cond = self._filter_condition(entry, acc)
            acc = _Sol(acc.df.filter(cond), acc.bound, acc.maybe)
            if markers:
                acc = _Sol(acc.df.drop(*markers), acc.bound, acc.maybe)
        return acc

    def _materialize_exists(self, entry, acc: _Sol):
        """Replace each EXISTS operand (spec §17.4.1.4) inside a FILTER
        boolean tree with a membership marker column: the sub-pattern's
        solutions are projected to the shared variables, deduplicated,
        tagged TRUE, and LEFT-joined onto the solution relation — the
        marker is then an ordinary boolean atom composable with ``&&`` /
        ``||`` / ``!``. The distinct-before-join keeps the left join
        1:0/1 (no row multiplication) and hash-planned. With no shared
        variables the marker is a broadcast 1-row gate (EXISTS == "the
        pattern has any match at all").

        Possibly-unbound shared variables (OPTIONAL / partial-UNION on
        either side) take the compatible-mappings form (spec §18.5: a
        null is compatible with ANY value). EXISTS truth for a solution
        depends only on its shared-variable tuple, so membership is
        decided ONCE per distinct left key tuple — distinct left keys
        ``left-semi``-join the sub-pattern's distinct keys under the
        per-var compatibility predicate, and the surviving tuples
        rejoin the full relation on null-safe equality (``<=>``), a
        hash join. The semi is decomposed on the FIRST maybe-var's
        null split (the ``_compat_join`` discipline) so the dominant
        bound=bound mass equi-joins: bound-left × bound-right takes
        ``v0`` as a hash key, while the null slices (left rows whose
        ``v0`` is unbound / right solutions not binding ``v0``) pay
        only a constant-condition or residual-condition leg — with one
        maybe-var (the common case) every leg is hash- or broadcast-
        planned, NO nested loop. Key-sized shuffles only; never a
        row-id, so the plan is re-computation-safe. Returns (rewritten
        tree, widened acc, marker column names to drop after the
        filter)."""
        op, a, b = entry
        if op == "exists_expr":
            sub = self.group(a)
            shared = sorted(acc.bound & sub.bound)
            maybe_shared = [
                v for v in shared if v in acc.maybe or v in sub.maybe
            ]
            self._ex_n = getattr(self, "_ex_n", 0) + 1
            name = f"__ex{self._ex_n}"
            if shared and maybe_shared:
                sure = [v for v in shared if v not in maybe_shared]
                acc2 = self._lexeme_cast(acc, set(shared))
                sub2 = self._lexeme_cast(sub, set(shared))
                lkeys = acc2.df.select(*shared).distinct()
                rkeys = sub2.df.select(
                    *[F.col(v).alias(f"__x_{v}") for v in shared]
                ).distinct()

                def conj(conds):
                    out = F.lit(True)
                    for c in conds:
                        out = out & c
                    return out

                v0, rest = maybe_shared[0], maybe_shared[1:]
                rv0 = f"__x_{v0}"
                base = [F.col(v) == F.col(f"__x_{v}") for v in sure]
                base += [
                    F.col(v).isNull()
                    | F.col(f"__x_{v}").isNull()
                    | (F.col(v) == F.col(f"__x_{v}"))
                    for v in rest
                ]
                l_b = lkeys.filter(F.col(v0).isNotNull())
                l_n = lkeys.filter(F.col(v0).isNull())
                r_b = rkeys.filter(F.col(rv0).isNotNull())
                r_n = rkeys.filter(F.col(rv0).isNull())
                if sure or rest:
                    l_n_leg = l_n.join(rkeys, conj(base), "left_semi")
                else:
                    # one maybe-var and no sure vars: conj(base) is
                    # lit(True), and the semi would plan a nested loop of
                    # l_n against the FULL rkeys set (O(|l_n| x |rkeys|)
                    # on a sub-pattern with many distinct shared tuples).
                    # An unbound-v0 left row is compatible with ANY right
                    # solution, so EXISTS holds for it iff rkeys is
                    # non-empty — a broadcast 1-row gate, O(|l_n|).
                    gate = rkeys.limit(1)
                    l_n_leg = l_n.join(
                        F.broadcast(gate), F.lit(True), "left_semi"
                    )
                hit = (
                    l_b.join(
                        r_b,
                        conj([F.col(v0) == F.col(rv0)] + base),
                        "left_semi",
                    )
                    .unionByName(l_b.join(r_n, conj(base), "left_semi"))
                    .unionByName(l_n_leg)
                    .distinct()
                    .select(
                        *[F.col(v).alias(f"__k_{v}") for v in shared]
                    )
                    .withColumn(name, F.lit(True))
                )
                back = [
                    F.col(v).eqNullSafe(F.col(f"__k_{v}"))
                    for v in shared
                ]
                bcond = back[0]
                for c in back[1:]:
                    bcond = bcond & c
                df = acc2.df.join(hit, bcond, "left").drop(
                    *[f"__k_{v}" for v in shared]
                )
            elif shared:
                acc2 = self._lexeme_cast(acc, set(shared))
                sub2 = self._lexeme_cast(sub, set(shared))
                right = (
                    sub2.df.select(*shared)
                    .distinct()
                    .withColumn(name, F.lit(True))
                )
                df = acc2.df.join(right, shared, "left")
            else:
                right = sub.df.limit(1).select(F.lit(True).alias(name))
                df = acc.df.join(F.broadcast(right), F.lit(True), "left")
            return (
                ("marker", name, None),
                _Sol(df, acc.bound, acc.maybe),
                [name],
            )
        if op in ("and", "or"):
            parts, marks = [], []
            for c in a:
                c2, acc, m = self._materialize_exists(c, acc)
                parts.append(c2)
                marks += m
            return (op, parts, b), acc, marks
        if op == "not":
            a2, acc, marks = self._materialize_exists(a, acc)
            return ("not", a2, b), acc, marks
        return entry, acc, []

    def _filter_condition(self, entry, acc: _Sol):
        """One FILTER tree node -> a boolean Column over ``acc``."""
        return _condition_column(entry, acc.bound, acc.maybe)


def _condition_column(entry, bound: set, maybe: set, colf=F.col):
    """One FILTER boolean tree node -> a boolean Column over a
    solution relation with the given bound / possibly-unbound variable
    sets (shared by FILTER evaluation and the scalar IF() condition).
    ``colf`` resolves variable names to Columns (see _scalar_column)."""
    op, a, b = entry
    if op == "marker":
        # a materialized EXISTS membership column (never-null boolean
        # after the coalesce — EXISTS never errors, spec §17.4.1.4)
        return F.coalesce(colf(a), F.lit(False))
    if op in ("and", "or"):
        conds = [_condition_column(c, bound, maybe, colf) for c in a]
        out = conds[0]
        for c in conds[1:]:
            out = (out & c) if op == "and" else (out | c)
        return out
    if op == "not":
        # three-valued: ~null is null in Spark == !error = error
        # (spec §17.2), so the FILTER still drops the errored row
        return ~_condition_column(a, bound, maybe, colf)
    if op in ("in", "!in"):
        # spec §17.4.1.9: IN is the ||-chain of = comparisons, so it
        # inherits the per-comparison numeric switch and null logic
        # (unbound lhs -> null -> excluded, under NOT IN too)
        if not b:
            return F.lit(op == "!in")
        cond = None
        for item in b:
            numeric = isinstance(
                a, (NumConst, EArith)
            ) or isinstance(item, (NumConst, EArith))
            ca = _scalar_column(a, bound, maybe, colf)[0]
            ci = _scalar_column(item, bound, maybe, colf)[0]
            if numeric:
                ca, ci = ca.try_cast("long"), ci.try_cast("long")
            c = ca == ci
            cond = c if cond is None else (cond | c)
        return ~cond if op == "!in" else cond
    for t in (a, b):
        if isinstance(t, Var) and t.name not in bound:
            raise SparqlParseError(
                f"FILTER variable ?{t.name} not bound in its group"
            )

    # an unquoted integer or arithmetic on either side switches
    # the comparison to numeric semantics (both sides try_cast
    # to BIGINT; null -> excluded, SPARQL error-semantics)
    numeric = isinstance(a, (NumConst, EArith)) or isinstance(
        b, (NumConst, EArith)
    )

    def _fcol(t):
        if isinstance(t, NumConst):
            return F.lit(t.value)
        if isinstance(t, Var):
            c = colf(t.name)
            return c.try_cast("long") if numeric else c
        if isinstance(t, Const):
            c = F.lit(t.value)
            return c.try_cast("long") if numeric else c
        # a composite scalar expression (EFunc / EArith)
        c, _ = _scalar_column(t, bound, maybe, colf)
        return c.try_cast("long") if numeric else c

    if op in ("bound", "!bound"):
        # the OPTIONAL companion: null == unbound in this algebra
        c = colf(a.name)
        return c.isNotNull() if op == "bound" else c.isNull()
    if op in ("regex", "!regex"):
        # Java regex flavor (Spark rlike), documented divergence
        # from SPARQL's XPath flavor; null input excludes the row
        # under negation too (error-semantics, like comparisons)
        cond = colf(a.name).rlike(b.value)
        return ~cond if op == "!regex" else cond
    base = op.lstrip("!")
    if base in ("isiri", "isblank", "isliteral", "isnumeric"):
        # term-kind tests under the raw-lexeme convention (module
        # docstring); an unbound/errored argument is an error (NULL) —
        # the row drops under negation too
        c = _scalar_column(a, bound, maybe, colf)[0]
        if base == "isnumeric":
            # the integer-lexeme numeric model: true iff the STR
            # projection casts to BIGINT (so '"12"^^<...>' counts);
            # explicit when() keeps NULL-in -> NULL-out (isNotNull
            # would collapse the error to false)
            cond = F.when(
                c.isNotNull(), _t_str(c).try_cast("long").isNotNull()
            )
        else:
            cond = {
                "isiri": _t_is_iri,
                "isblank": _t_is_blank,
                "isliteral": _t_is_literal,
            }[base](c)
        return ~cond if op.startswith("!") else cond
    if base == "sameterm":
        # raw-lexeme equality — never takes the numeric switch ('='
        # with an integer constant does), spec §17.4.1.8
        la = _scalar_column(a, bound, maybe, colf)[0]
        lb = _scalar_column(b, bound, maybe, colf)[0]
        cond = la == lb
        return ~cond if op.startswith("!") else cond
    if base == "langmatches":
        # RFC 4647 basic filtering (spec §17.4.4.3): '*' matches any
        # non-empty tag, else case-insensitive exact or prefix-with-'-'
        la = _scalar_column(a, bound, maybe, colf)[0]
        lb = _scalar_column(b, bound, maybe, colf)[0]
        cond = (
            F.when(la.isNull() | lb.isNull(), F.lit(None).cast("boolean"))
            .when(lb == "*", la != "")
            .otherwise(
                (F.lower(la) == F.lower(lb))
                | F.lower(la).startswith(F.concat(F.lower(lb), F.lit("-")))
            )
        )
        return ~cond if op.startswith("!") else cond
    if base in ("strstarts", "strends", "contains"):
        # string tests over scalar expressions; a null (unbound or
        # errored) argument excludes the row under negation too
        la = _scalar_column(a, bound, maybe, colf)[0]
        lb = _scalar_column(b, bound, maybe, colf)[0]
        cond = {
            "strstarts": la.startswith(lb),
            "strends": la.endswith(lb),
            "contains": la.contains(lb),
        }[base]
        return ~cond if op.startswith("!") else cond
    la, lb = _fcol(a), _fcol(b)
    return {
        "=": la == lb, "!=": la != lb, "<": la < lb,
        "<=": la <= lb, ">": la > lb, ">=": la >= lb,
    }[op]


def _expr_aggs(e) -> list:
    """The EAggRef nodes of a projection expression, in syntactic order
    (duplicates by ``key`` are deduplicated at evaluation)."""
    if isinstance(e, EAggRef):
        return [e]
    if isinstance(e, (Var, Const, NumConst)):
        return []
    if isinstance(e, EIf):
        return (
            _cond_aggs(e.cond) + _expr_aggs(e.then) + _expr_aggs(e.other)
        )
    if isinstance(e, EArith):
        return _expr_aggs(e.lhs) + _expr_aggs(e.rhs)
    if isinstance(e, ENdet):
        return _expr_aggs(e.arg) if e.arg is not None else []
    assert isinstance(e, EFunc), e
    return [a for arg in e.args for a in _expr_aggs(arg)]


def _expr_sub_aggs(e, names: dict):
    """Rewrite EAggRef leaves to plain Vars over their hidden grouped
    columns (``names``: agg key -> column name) so the standard scalar
    compiler evaluates the expression post-aggregation."""
    if isinstance(e, EAggRef):
        return Var(names[e.key])
    if isinstance(e, (Var, Const, NumConst)):
        return e
    if isinstance(e, EIf):
        return EIf(
            _cond_sub_aggs(e.cond, names),
            _expr_sub_aggs(e.then, names),
            _expr_sub_aggs(e.other, names),
        )
    if isinstance(e, EArith):
        return EArith(
            e.op,
            _expr_sub_aggs(e.lhs, names),
            _expr_sub_aggs(e.rhs, names),
        )
    if isinstance(e, ENdet):
        return ENdet(
            e.name,
            None if e.arg is None else _expr_sub_aggs(e.arg, names),
            e.site,
        )
    assert isinstance(e, EFunc), e
    return EFunc(e.name, tuple(_expr_sub_aggs(a, names) for a in e.args))


_EXPR_TYPES = (Var, Const, NumConst, EFunc, EArith, EIf, EAggRef, ENdet)


def _cond_aggs(entry) -> list:
    """EAggRef nodes inside a FILTER boolean tree (general HAVING)."""
    op, a, b = entry
    if op in ("and", "or"):
        return [r for c in a for r in _cond_aggs(c)]
    if op == "not":
        return _cond_aggs(a)
    out = []
    operands = [a] + (list(b) if op in ("in", "!in") else [b])
    for t in operands:
        if isinstance(t, _EXPR_TYPES):
            out.extend(_expr_aggs(t))
    return out


def _cond_sub_aggs(entry, names: dict):
    """Rewrite the EAggRef leaves of a FILTER boolean tree to Vars over
    their hidden grouped lexeme columns (see _expr_sub_aggs)."""
    op, a, b = entry
    if op in ("and", "or"):
        return (op, [_cond_sub_aggs(c, names) for c in a], b)
    if op == "not":
        return ("not", _cond_sub_aggs(a, names), b)
    sub = lambda t: (  # noqa: E731
        _expr_sub_aggs(t, names) if isinstance(t, _EXPR_TYPES) else t
    )
    if op in ("in", "!in"):
        return (op, sub(a), [sub(x) for x in b])
    return (op, sub(a), sub(b))


def _expr_vars(e):
    """Variable names a scalar expression references; ``None`` when an
    embedded IF() condition contains an (NOT) EXISTS (not deferrable —
    see _cond_vars)."""
    if isinstance(e, Var):
        return {e.name}
    if isinstance(e, (Const, NumConst, EAggRef)):
        # an EAggRef's inner variables are aggregate-scoped, not free
        return set()
    if isinstance(e, EIf):
        parts = [_cond_vars(e.cond), _expr_vars(e.then), _expr_vars(e.other)]
    elif isinstance(e, EArith):
        parts = [_expr_vars(e.lhs), _expr_vars(e.rhs)]
    elif isinstance(e, ENdet):
        # a generator, not a reference: only its (BNODE) argument's
        # variables are free; the bindings basis adapts to whatever
        # scope it compiles in
        parts = [_expr_vars(e.arg)] if e.arg is not None else [set()]
    else:
        assert isinstance(e, EFunc), e
        parts = [_expr_vars(a) for a in e.args]
    out = set()
    for p in parts:
        if p is None:
            return None
        out |= p
    return out


def _cond_vars(entry):
    """Variable names a FILTER boolean tree references, or ``None`` when
    the tree contains an (NOT) EXISTS — those evaluate as joins against
    their own group and are never deferred into a LeftJoin condition."""
    op = entry[0]
    if op in ("exists", "not_exists", "exists_expr"):
        return None
    _, a, b = entry
    if op in ("and", "or"):
        out = set()
        for c in a:
            v = _cond_vars(c)
            if v is None:
                return None
            out |= v
        return out
    if op == "not":
        return _cond_vars(a)
    out = set()
    operands = [a] + (list(b) if op in ("in", "!in") else [b])
    for t in operands:
        if t is None or isinstance(t, (Const, NumConst)):
            continue
        v = _expr_vars(t)
        if v is None:
            return None
        out |= v
    return out


def _var_order(q: _Parser) -> list:
    """Variable names in first syntactic appearance order (SELECT *).
    Blank-node internals are nondistinguished — never projected."""
    seen: list = []

    def walk(node):
        for e in node.elems:
            if isinstance(e, Bgp):
                for quad in e.patterns:
                    for t in quad:
                        if (
                            isinstance(t, Var)
                            and t.name not in seen
                            and not t.name.startswith(BNODE_PREFIX)
                        ):
                            seen.append(t.name)
            elif isinstance(e, ValuesBlock):
                for n in e.names:
                    if n not in seen:
                        seen.append(n)
            elif isinstance(e, BindNode):
                if e.name not in seen:
                    seen.append(e.name)
            elif isinstance(e, SubSelect):
                sub = (
                    e.q.select
                    if e.q.select is not None
                    else _var_order(e.q)
                )
                for n in sub:
                    if n not in seen:
                        seen.append(n)
            elif isinstance(e, (Opt, Minus, ServiceNode)):
                walk(e.node)
            elif isinstance(e, UnionNode):
                for b in e.branches:
                    walk(b)
            else:
                walk(e)

    if q.root:
        walk(q.root)
    return seen


def _agg_column(agg: Agg, sol: _Sol, name: str, implicit_group=False):
    """One aggregate -> a Spark aggregate expression aliased ``name``.

    COUNT counts non-null (non-unbound) bindings — SPARQL's
    skip-the-errors semantics is exactly Spark's null-skipping; SUM casts
    the opaque string lexeme to BIGINT (non-integer lexemes -> NULL,
    skipped; SQL twin: SUM(TRY_CAST(v AS BIGINT))); MIN/MAX compare
    lexicographically (binary collation in both engines).

    ``implicit_group``: the no-GROUP-BY form aggregates the whole
    solution set as one group, which unlike a real group can be EMPTY —
    and SPARQL defines Sum({}) = 0 (spec §18.5.1.5, vs SQL's NULL), so
    the implicit-group SUM coalesces — and §18.5.1.6 defines
    Avg(M) = 0 when Count(M) = 0, so AVG coalesces likewise. The twins
    are COALESCE(SUM(...), 0) / COALESCE(AVG(...), 0). MIN/MAX of an
    empty group error (stay unbound) in both models, and GROUP_CONCAT
    yields "" there (collect_list gives [])."""
    if agg.var is not None and agg.var not in sol.bound:
        raise SparqlParseError(
            f"aggregate variable ?{agg.var} not bound in the pattern"
        )
    # the aggregated value: a bound variable's column, or a compiled
    # scalar expression (the BIND grammar — an errored/unbound row
    # contributes NULL and is skipped, SPARQL's skip-the-errors)
    val = (
        _scalar_column(agg.expr, sol.bound, sol.maybe)[0]
        if agg.expr is not None
        else (F.col(agg.var) if agg.var is not None else None)
    )
    if agg.func == "COUNT":
        if val is None:
            if agg.distinct:
                cols = [F.col(v) for v in sorted(sol.bound)]
                return F.count_distinct(*cols).alias(name)
            return F.count(F.lit(1)).alias(name)
        if agg.distinct:
            return F.count_distinct(val).alias(name)
        return F.count(val).alias(name)
    if agg.func == "SUM":
        # try_cast, not cast: ANSI mode would throw on a non-numeric
        # lexeme; the contract is NULL -> skipped (TRY_CAST in the twin)
        c = val.try_cast("long")
        e = F.sum_distinct(c) if agg.distinct else F.sum(c)
        if implicit_group:
            e = F.coalesce(e, F.lit(0).cast("long"))
        return e.alias(name)
    if agg.func == "AVG":
        # the one non-string, non-integer aggregate output: a DOUBLE
        # column. Spark's Average sums integral input in a DOUBLE
        # accumulator; every partial sum of integers below 2^53 is
        # exactly representable, so the sum is order-independent and the
        # single IEEE division matches DuckDB's HUGEINT-sum AVG
        # bit-for-bit (verified at sf0.01/sf1 scales; beyond |sum| ~ 9e15
        # the two could diverge in the last ulp). SQL twin:
        # AVG([DISTINCT] TRY_CAST(v AS BIGINT)).
        c = val.try_cast("long")
        if agg.distinct:
            # AVG(DISTINCT x) == SUM(DISTINCT x) / COUNT(DISTINCT x) —
            # exact integral sum below 2^53, one IEEE division (the same
            # determinism argument as the plain-AVG comment above)
            e = F.sum_distinct(c).cast("double") / F.count_distinct(c)
        else:
            e = F.avg(c)
        if implicit_group:
            # Avg(M) = 0 when Count(M) = 0 (spec §18.5.1.6); only the
            # implicit group can be empty
            e = F.coalesce(e, F.lit(0.0))
        return e.alias(name)
    if agg.func == "GROUP_CONCAT":
        # deterministic: values sorted before joining (SPARQL leaves the
        # order unspecified; the SQL twin is string_agg(.. ORDER BY ..));
        # an all-null group yields NULL, matching string_agg
        arr = F.collect_set(val) if agg.distinct else F.collect_list(val)
        joined = F.array_join(F.array_sort(arr), agg.sep)
        if implicit_group:
            # GroupConcat({}) = "" (spec §18.5.1.7); only the implicit
            # group can be empty, and collect_list already yields [] ->
            # "" there. Twin: COALESCE(string_agg(...), '').
            return joined.alias(name)
        return F.when(F.count(val) > 0, joined).alias(name)
    # MIN/MAX compare lexicographically; SAMPLE must pick SOME value and
    # picking the minimum keeps it deterministic (and SQL-twinnable).
    # DISTINCT is a no-op on extrema.
    fn = F.max if agg.func == "MAX" else F.min
    return fn(val).alias(name)


def _aggregate(sol: _Sol, q: _Parser) -> DataFrame:
    """GROUP BY / aggregate evaluation: ONE partial-aggregating shuffle
    (map-side combine keeps a hot group key linear in its partition
    count, not its row count), HAVING as a post-aggregation filter that
    reuses a selected aggregate's column when the expression matches."""
    if q.select is None:
        raise SparqlParseError(
            "SELECT * cannot be combined with GROUP BY / aggregates"
        )
    for g in q.group_by:
        if g not in sol.bound:
            raise SparqlParseError(
                f"GROUP BY variable ?{g} not bound in the pattern"
            )
    grouped = set(q.group_by)
    for it in q.projection:
        if isinstance(it, Agg):
            continue
        if it[0] == "aggexpr":
            # free (non-aggregate-scoped) variables must be group keys
            # (spec §18.2.4.1's projection restriction)
            free = _expr_vars(it[2]) or set()
            bad = sorted(free - grouped)
            if bad:
                raise SparqlParseError(
                    f"?{bad[0]} appears outside aggregates in a "
                    "projection expression — it must be GROUPed BY"
                )
            continue
        if it[0] == "expr":
            raise SparqlParseError(
                "expression SELECT items cannot be combined with "
                "aggregates / GROUP BY (use BIND in the pattern, then "
                "GROUP BY the bound variable)"
            )
        _, n = it
        if n not in sol.bound:
            raise SparqlParseError(
                f"selected variable ?{n} not bound in the pattern"
            )
        if n not in grouped:
            raise SparqlParseError(
                f"selected variable ?{n} must appear in GROUP BY when "
                "the query aggregates"
            )
    exprs, by_key, ax_names = [], {}, {}
    for it in q.projection:
        if isinstance(it, Agg):
            if it.alias in grouped:
                raise SparqlParseError(
                    f"aggregate alias ?{it.alias} collides with a "
                    "GROUP BY variable"
                )
            exprs.append(
                _agg_column(it, sol, it.alias, not q.group_by)
            )
            by_key[it.key] = it.alias
        elif isinstance(it, tuple) and it[0] == "aggexpr":
            # hidden grouped columns for the expression's aggregates —
            # kept separate from selected aggregates (those keep their
            # native BIGINT/DOUBLE output dtype; these re-enter the
            # string term space for the scalar compiler)
            for ref in _expr_aggs(it[2]):
                if ref.key not in ax_names:
                    name = f"__ax{len(ax_names)}"
                    exprs.append(
                        _agg_column(ref.agg, sol, name, not q.group_by)
                    )
                    ax_names[ref.key] = name
    hidden = []
    for agg, _op, _val in q.having:
        if agg.key not in by_key:
            name = f"__h{len(hidden)}"
            exprs.append(_agg_column(agg, sol, name, not q.group_by))
            by_key[agg.key] = name
            hidden.append(name)
    if q.having_tree is not None:
        for ref in _cond_aggs(q.having_tree):
            if ref.key not in ax_names:
                name = f"__ax{len(ax_names)}"
                exprs.append(
                    _agg_column(ref.agg, sol, name, not q.group_by)
                )
                ax_names[ref.key] = name
    if exprs:
        gdf = sol.df.groupBy(*[F.col(g) for g in q.group_by]).agg(*exprs)
    else:
        # pure GROUP BY projection: the distinct group keys
        gdf = sol.df.select(*q.group_by).distinct()
    for agg, op, val in q.having:
        c, lv = F.col(by_key[agg.key]), F.lit(val)
        gdf = gdf.filter(
            {
                "=": c == lv, "!=": c != lv, "<": c < lv,
                "<=": c <= lv, ">": c > lv, ">=": c >= lv,
            }[op]
        )
    agg_items = [
        it
        for it in q.projection
        if isinstance(it, tuple) and it[0] == "aggexpr"
    ]
    if agg_items or q.having_tree is not None:
        # aggregate-operand expressions (projection and general HAVING):
        # read the hidden grouped columns back as decimal lexemes (the
        # opaque-string term space) and run the standard scalar /
        # boolean compilers over them
        ax_hidden = sorted(set(ax_names.values()))
        for h in ax_hidden:
            gdf = gdf.withColumn(h, F.col(h).cast("string"))
        scope = set(q.group_by) | set(ax_hidden)
        if q.having_tree is not None:
            gdf = gdf.filter(
                _condition_column(
                    _cond_sub_aggs(q.having_tree, ax_names), scope, set()
                )
            )
        for _, alias, ast in agg_items:
            col, _nullable = _scalar_column(
                _expr_sub_aggs(ast, ax_names), scope, set()
            )
            gdf = gdf.withColumn(alias, col)
    return gdf.select(*q.select)


def sparql_select(
    quads: DataFrame, query: str, *, services: dict | None = None
) -> DataFrame:
    """Run a SPARQL SELECT over a decoded ``(s, p, o, g)`` quad DataFrame.

    Each BGP goes through :func:`rify_spark.matcher.bindings` — the same
    join-chain compiler the rule engine uses, so join order, constant-slot
    pushdown and skew handling are shared; OPTIONAL / UNION / nested
    groups combine those chains with DataFrame joins and unions. Result
    columns are the selected variable names.
    """
    q = parse_select(query)
    if q.form != "SELECT":
        raise SparqlParseError(
            f"{q.form} query passed to sparql_select — use sparql_query"
        )
    return _select_solution(_Eval(
        _dataset_view(quads, q),
        graph_var_hides_default=bool(q.dataset_from or q.dataset_named),
        services=services,
    ), q).df


def _dataset_view(quads: DataFrame, q: _Parser) -> DataFrame:
    """Apply the query's ``FROM`` / ``FROM NAMED`` dataset clauses (spec
    §13.2) to the quad store: the default graph becomes the SET-UNION of
    the FROM graphs (re-tagged ``DEFAULT_GRAPH``; RDF merge of more than
    one graph dedups) and GRAPH patterns see only the FROM NAMED graphs.
    Either clause alone empties the other side, per spec. The graph
    membership filters are ``isin`` predicates on the ``g`` column, so
    they push down to a parquet scan (partition-prunable when the store
    is partitioned by graph — the 100-TB layout)."""
    if not q.dataset_from and not q.dataset_named:
        return quads
    g = F.col("g")
    parts = []
    if q.dataset_from:
        d = quads.filter(g.isin(q.dataset_from)).withColumn(
            "g", F.lit(DEFAULT_GRAPH)
        )
        if len(q.dataset_from) > 1:
            d = d.distinct()
        parts.append(d)
    if q.dataset_named:
        parts.append(quads.filter(g.isin(q.dataset_named)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _select_solution(ev: _Eval, q: _Parser) -> _Sol:
    """Evaluate a parsed SELECT query to its solution relation — used by
    the top-level query and, recursively, by ``{ SELECT ... }``
    subqueries (which then join with their enclosing group on shared
    projected variables, SPARQL's bottom-up subquery semantics)."""
    sol = ev.group(q.root)
    if q.trailing_values is not None and not q.is_aggregate:
        # §18.2.4.2: the final VALUES joins the pattern solutions before
        # SELECT expressions / ORDER / slice (aggregates: see below)
        sol = ev.join(sol, ev.values_sol(q.trailing_values), "inner")
    names = [v for v in _var_order(q) if v in sol.bound]
    if q.trailing_values is not None:
        names += [n for n in q.trailing_values.names if n not in names]
    if q.is_aggregate:
        # (expr AS ?alias) GROUP BY keys: materialize the expression
        # column pre-aggregation (exactly BIND-then-GROUP-BY), with the
        # alias's nullability joining the possibly-unbound tracking so a
        # NULL-keyed group is honest downstream
        for alias, ast in q.group_exprs:
            if alias in sol.bound:
                raise SparqlParseError(
                    f"GROUP BY expression alias ?{alias} collides with "
                    "a pattern variable"
                )
            col, nullable = _scalar_column(ast, sol.bound, sol.maybe)
            sol = _Sol(
                sol.df.withColumn(alias, col),
                sol.bound | {alias},
                sol.maybe | ({alias} if nullable else set()),
            )
        df = _aggregate(sol, q)
        out_names = list(q.select)
        # a COUNT is never null; SUM/MIN/MAX are null on all-null groups,
        # and a grouped-by variable keeps its possibly-unbound status
        maybe = (
            {
                it.alias
                for it in q.projection
                if isinstance(it, Agg) and it.func != "COUNT"
            }
            | {
                it[1]
                for it in q.projection
                if isinstance(it, tuple) and it[0] == "aggexpr"
            }
            | (set(q.group_by) & sol.maybe)
        )
        if q.trailing_values is not None:
            # aggregate form: VALUES joins AFTER Aggregation+HAVING
            # (§18.2.4.2's modifier order); values-only variables are
            # dropped back to the SELECT list after the join
            joined = ev.join(
                _Sol(df, set(out_names), maybe),
                ev.values_sol(q.trailing_values),
                "inner",
            )
            df = joined.df.select(*out_names)
            maybe = set(out_names) & joined.maybe
    elif q.select is not None:
        df, bound, sol_maybe = sol.df, set(sol.bound), set(sol.maybe)
        for it in q.projection:
            if isinstance(it, tuple) and it[0] == "expr":
                _, alias, expr = it
                if alias in bound:
                    raise SparqlParseError(
                        f"SELECT expression alias ?{alias} collides with "
                        "a pattern variable"
                    )
                col, nullable = _scalar_column(expr, bound, sol_maybe)
                df = df.withColumn(alias, col)
                bound.add(alias)
                if nullable:
                    sol_maybe.add(alias)
        missing = [v for v in q.select if v not in bound]
        if missing:
            raise SparqlParseError(
                f"selected variables not in pattern: {missing}"
            )
        df = df.select(*q.select)
        out_names = list(q.select)
        maybe = set(q.select) & sol_maybe
    else:
        df = sol.df.select(*names) if names else sol.df
        out_names = names
        maybe = set(names) & sol.maybe
    if q.distinct:
        df = df.distinct()
    def order_col(key):
        # a plain variable orders on its column (an aggregate alias keeps
        # its native BIGINT/DOUBLE dtype, so it already orders by value);
        # an expression compiles over the SELECTED columns, and an
        # arithmetic / numeric-constant key re-casts the rendered lexeme
        # to BIGINT so the ordering is numeric (the FILTER contract)
        if isinstance(key, Var):
            if key.name not in out_names:
                raise SparqlParseError(
                    f"ORDER BY ?{key.name} must be a selected variable"
                )
            return F.col(key.name)
        col, _ = _scalar_column(key, set(out_names), maybe)
        if isinstance(key, (EArith, NumConst)):
            col = col.try_cast("long")
        return col

    if q.order:
        df = df.orderBy(
            *[
                order_col(v).desc() if desc else order_col(v).asc()
                for v, desc in q.order
            ]
        )
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return _Sol(df, set(out_names), maybe)


def sparql_ask(
    quads: DataFrame, query: str, *, services: dict | None = None
) -> DataFrame:
    """ASK -> one row ``(ask: boolean)``: does the pattern have a match?
    Executed under LIMIT 1, so Spark stops at the first satisfying row
    instead of materializing the binding set."""
    q = parse_select(query)
    if q.form != "ASK":
        raise SparqlParseError("sparql_ask needs an ASK query")
    ev = _Eval(
        _dataset_view(quads, q),
        graph_var_hides_default=bool(q.dataset_from or q.dataset_named),
        services=services,
    )
    sol = ev.group(q.root)
    if q.trailing_values is not None:
        sol = ev.join(sol, ev.values_sol(q.trailing_values), "inner")
    found = sol.df.limit(1)
    spark = quads.sparkSession
    return spark.createDataFrame(
        [(bool(found.take(1)),)], "ask boolean"
    )


def sparql_construct(
    quads: DataFrame, query: str, *, services: dict | None = None
) -> DataFrame:
    """CONSTRUCT -> a deduplicated ``(s, p, o, g)`` quad DataFrame.

    The template instantiates through :func:`matcher.project_heads` — the
    same code path that materializes rule heads in the fixpoint — so a
    CONSTRUCT is exactly a one-shot rule application over the store
    (set semantics: duplicates collapse, as in ``Reasoner::insert``).
    Template variables must appear in the WHERE pattern (the range-
    restriction check the rule validator applies, errors.UnboundImplied's
    analog); possibly-unbound ones (OPTIONAL/partial-UNION) follow the
    spec's skip-incomplete-triple rule (§16.2): a solution leaving the
    variable unbound omits just the template triples that use it.
    """
    q = parse_select(query)
    if q.form != "CONSTRUCT":
        raise SparqlParseError("sparql_construct needs a CONSTRUCT query")
    if not q.template:
        raise SparqlParseError("empty CONSTRUCT template")
    ev = _Eval(
        _dataset_view(quads, q),
        graph_var_hides_default=bool(q.dataset_from or q.dataset_named),
        services=services,
    )
    sol = ev.group(q.root)
    if q.trailing_values is not None:
        sol = ev.join(sol, ev.values_sol(q.trailing_values), "inner")
    dtype = quads.schema["s"].dataType
    return _template_quads(sol, q.template, dtype, what="CONSTRUCT")


def _template_quads(
    sol: _Sol, template: list, dtype, *, what: str, bnode_salt: str = ""
):
    """Instantiate a quad template over a solution relation through
    :func:`matcher.project_heads` — the same code path that materializes
    rule heads in the fixpoint (shared by CONSTRUCT and the UPDATE
    DELETE/INSERT templates). Returns a deduplicated ``(s, p, o, g)``
    DataFrame. Template variables must appear in the pattern; a
    possibly-unbound one skips just its own triples per solution
    (skip-incomplete-triple, spec §16.2 / Update §3.1.3), via one head
    projection per maybe-var signature over a null-filtered bindings
    relation.

    CONSTRUCT templates may contain blank nodes (``_:label`` / ``[]``):
    each label mints one fresh node PER SOLUTION (spec §16.2.1) as
    ``"_:" + md5(label, bindings)`` — a deterministic function of the
    solution's bindings, so duplicate solutions coincide (consistent
    with the engine's set-semantics store, where the duplicate quads
    would collapse anyway) and the DuckDB twin can reproduce the exact
    labels. A template label that also appears in the WHERE pattern is
    rejected (the scopes are disjoint in the spec; sharing would be
    ambiguous). INSERT templates mint the same way (spec §3.1.3: fresh
    per solution), additionally salted with ``bnode_salt`` (the caller's
    seed + the operation's index in its ``;``-sequence, so two INSERT
    operations in one update mint disjoint nodes); DELETE templates
    reject blank nodes (spec §3.1.3.2 forbids them)."""
    from .matcher import project_heads

    if what in ("CONSTRUCT", "INSERT"):
        tmpl_bnodes = sorted(
            {
                t.name
                for quad in template
                for t in quad
                if isinstance(t, Var) and t.name.startswith(BNODE_PREFIX)
            }
        )
        if tmpl_bnodes:
            clash = [n for n in tmpl_bnodes if n in sol.bound]
            if clash:
                raise SparqlParseError(
                    f"a {what}-template blank-node label may not also "
                    f"appear in WHERE: _:{clash[0][len(BNODE_PREFIX):]}"
                )
            basis = [
                F.coalesce(F.col(n), F.lit("\x00"))
                for n in sorted(sol.bound)
            ]
            if bnode_salt:
                basis = [F.lit(bnode_salt), *basis]
            df = sol.df
            for n in tmpl_bnodes:
                df = df.withColumn(
                    n,
                    F.concat(
                        F.lit("_:"),
                        F.md5(
                            F.concat_ws("\x1f", F.lit(n), *basis).cast(
                                "binary"
                            )
                        ),
                    ),
                )
            sol = _Sol(df, sol.bound | set(tmpl_bnodes), set(sol.maybe))
    slot_names = sorted(sol.bound)
    slots = {n: i for i, n in enumerate(slot_names)}
    head = []
    for quad in template:
        atom = []
        maybe_used: set[str] = set()
        for t in quad:
            if isinstance(t, Path):
                raise SparqlParseError(
                    f"property path not allowed in a {what} template"
                )
            if isinstance(t, Var):
                if (
                    t.name.startswith(BNODE_PREFIX)
                    and t.name not in slots
                ):
                    # only DELETE reaches here: CONSTRUCT/INSERT labels
                    # were minted above, and a label shared with WHERE
                    # is a bound variable in slots
                    raise SparqlParseError(
                        f"blank nodes are not allowed in a {what} "
                        "template (spec §3.1.3.2)"
                    )
                if t.name not in slots:
                    # range restriction, the analog of UnboundImplied
                    # (rules.py / reference src/rule.rs:118-131)
                    raise SparqlParseError(
                        f"template variable ?{t.name} not bound in WHERE"
                    )
                if t.name in sol.maybe:
                    # skip-incomplete-triple (spec §16.2 / Update
                    # §3.1.3): a solution leaving this var unbound
                    # omits THIS triple only — tracked per template
                    # quad, compiled to a null filter below
                    maybe_used.add(t.name)
                atom.append(("v", slots[t.name]))
            else:
                atom.append(("c", t.value))
        head.append((frozenset(maybe_used), atom))
    b = sol.df.select(
        *[F.col(n).alias(f"v{i}") for n, i in slots.items()]
    )
    # group template quads by the set of possibly-unbound vars they use:
    # one head projection per signature over a null-filtered bindings
    # relation — quads with no maybe vars share the unfiltered pass, so
    # the all-sure-bound case is exactly the old single-rule plan
    by_sig: dict[frozenset, list] = {}
    for sig, atom in head:
        by_sig.setdefault(sig, []).append(atom)
    parts = []
    for sig in sorted(by_sig, key=sorted):
        b_sig = b
        for name in sorted(sig):
            b_sig = b_sig.filter(F.col(f"v{slots[name]}").isNotNull())
        lrule = LoweredRule(
            index=0, body=[], head=by_sig[sig], n_vars=len(slots),
            canon_vars=slot_names,
        )
        parts.append(project_heads(b_sig, lrule, dtype))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["s", "p", "o", "g"])


def sparql_describe(
    quads: DataFrame,
    query: str,
    *,
    cbd: bool = False,
    cbd_max_hops: int | None = None,
    services: dict | None = None,
) -> DataFrame:
    """DESCRIBE -> a deduplicated ``(s, p, o, g)`` quad DataFrame.

    The description form is implementation-defined by the spec (§16.4);
    this engine returns the ONE-HOP FORWARD description by default:
    every quad whose subject is a described resource, across all
    graphs. ``cbd=True`` upgrades it to the Concise Bounded Description
    (the de-facto standard form): the subject set additionally closes
    over blank-node OBJECTS transitively — a described statement whose
    object is a blank node pulls that node's own statements in, until
    no new blank nodes appear. The closure is
    :func:`rify_spark.ops.graph.bfs_levels` over the store's
    bnode-object edges (the once-partitioned frontier fixpoint — at
    scale the store is range-read once for the edge projection and the
    iterations exchange only frontiers; named resources never join the
    frontier, so the closure is bounded by bnode-chain depth, not store
    size). ``cbd_max_hops`` caps the chain depth, defaulting to
    bfs_levels' BFS_MAX_ITER of 64: the closure keeps the nodes within
    that many hops, and a chain that still grows past
    ``max(cbd_max_hops, 64)`` hops raises ``RuntimeError``. Resources are the
    DESCRIBE constants plus, for ``DESCRIBE ?v WHERE {...}``, the
    distinct non-null bindings of each described variable (an unbound —
    OPTIONAL-miss — binding describes nothing). Plan shape: the resource
    set is distinct-reduced first, then a ``left_semi`` join against the
    store on ``s`` — at scale a small described set broadcasts and the
    store is never shuffled."""
    q = parse_select(query)
    if q.form != "DESCRIBE":
        raise SparqlParseError("sparql_describe needs a DESCRIBE query")
    has_dataset = bool(q.dataset_from or q.dataset_named)
    quads = _dataset_view(quads, q)
    spark = quads.sparkSession
    parts = []
    consts = [t.value for t in q.described if isinstance(t, Const)]
    if consts:
        parts.append(
            spark.createDataFrame([(c,) for c in consts], "r string")
        )
    dvars = [t.name for t in q.described if isinstance(t, Var)]
    if dvars:
        ev = _Eval(
            quads,
            graph_var_hides_default=has_dataset,
            services=services,
        )
        sol = ev.group(q.root)
        if q.trailing_values is not None:
            sol = ev.join(sol, ev.values_sol(q.trailing_values), "inner")
        for name in dvars:
            if name not in sol.bound:
                raise SparqlParseError(
                    f"DESCRIBE variable ?{name} not bound in WHERE"
                )
            parts.append(
                sol.df.select(F.col(name).alias("r")).filter(
                    F.col("r").isNotNull()
                )
            )
    resources = parts[0]
    for p in parts[1:]:
        resources = resources.unionByName(p)
    resources = resources.distinct()
    if cbd:
        from .ops.graph import BFS_MAX_ITER, bfs_levels

        bnode_edges = quads.filter(
            F.col("o").startswith("_:")
        ).select("s", "o")
        hops = BFS_MAX_ITER if cbd_max_hops is None else cbd_max_hops
        # bfs_levels raises rather than truncate, so a cap below its
        # default is applied to the converged hop distances
        reached = bfs_levels(
            bnode_edges,
            resources.select(F.col("r").alias("node")),
            max_iter=max(hops, BFS_MAX_ITER),
        )
        resources = reached.filter(F.col("dist") <= hops).select(
            F.col("node").alias("r")
        )
    return (
        quads.select("s", "p", "o", "g")
        .join(resources, F.col("s") == F.col("r"), "left_semi")
        .dropDuplicates(["s", "p", "o", "g"])
    )


def sparql_query(
    quads: DataFrame, query: str, *, services: dict | None = None
) -> DataFrame:
    """Dispatch on the query form: SELECT / ASK / CONSTRUCT / DESCRIBE."""
    q = parse_select(query)
    fn = {
        "SELECT": sparql_select,
        "ASK": sparql_ask,
        "CONSTRUCT": sparql_construct,
        "DESCRIBE": sparql_describe,
    }[q.form]
    return fn(quads, query, services=services)


def sparql_query_entailed(
    spark,
    premises: DataFrame,
    rules,
    query: str,
    config=None,
    *,
    services: dict | None = None,
) -> DataFrame:
    """SPARQL over the RULE-ENTAILED store: the query runs against
    premises ∪ the fixpoint's derived quads, so the rule set plays the
    role of an entailment regime (RDFS/OWL-RL-style reasoning under the
    query — the reasoning-endpoint composition a rify user gets from
    ``infer`` + querying the result).

    ``derived`` is disjoint from the deduplicated premises by the
    engine's novelty anti-join contract (reference
    ``Reasoner::insert``), so the union below is already a set.
    """
    from .api import infer_df

    derived, _res = infer_df(spark, premises, rules, config)
    store = (
        premises.select("s", "p", "o", "g")
        .dropDuplicates(["s", "p", "o", "g"])
        .unionByName(derived.select("s", "p", "o", "g"))
    )
    return sparql_query(store, query, services=services)


# --- driver-gate queries + DuckDB oracles -----------------------------------

# two-hop BGP over the TPC-H quad graph with a GRAPH clause and a filter
GATE_BGP = """
  PREFIX ex: <>
  SELECT ?order ?nation WHERE {
    GRAPH <graph://tpch> {
      ?order ex:placed_by ?cust .
      ?cust ex:in_nation ?nation
    }
    FILTER (?nation != "nation:0")
  }
"""

# modifiers: shared-subject ';' block, DISTINCT, ORDER BY + LIMIT
GATE_MODIFIERS = """
  SELECT DISTINCT ?cust ?nation WHERE {
    GRAPH <graph://tpch> {
      ?cust <in_nation> ?nation ; <in_nation> ?nation2 .
    }
    FILTER (?nation = ?nation2 && ?cust < "cust:2")
  }
  ORDER BY DESC(?cust) LIMIT 500
"""


# OPTIONAL = left join: every customer row, order filled where one exists
GATE_OPTIONAL = """
  SELECT ?cust ?nation ?order WHERE {
    GRAPH <graph://tpch> {
      ?cust <in_nation> ?nation
      OPTIONAL { ?order <placed_by> ?cust }
    }
  }
"""

# UNION = bag union with null padding on branch-local variables
GATE_UNION = """
  SELECT ?s ?o ?r WHERE {
    { GRAPH <graph://tpch> { ?s <in_nation> ?o } }
    UNION
    { GRAPH <graph://tpch> { ?s <in_region> ?o . ?s <in_region> ?r } }
  }
"""


def sparql_optional_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_OPTIONAL)


def sparql_optional_sql() -> str:
    return """
      SELECT 'cust:' || c.c_custkey AS cust,
             'nation:' || c.c_nationkey AS nation,
             'order:' || o.o_orderkey AS "order"
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """


def sparql_union_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_UNION)


def sparql_union_sql() -> str:
    return """
      SELECT 'cust:' || c_custkey AS s,
             'nation:' || c_nationkey AS o,
             CAST(NULL AS VARCHAR) AS r
      FROM customer
      UNION ALL
      SELECT 'nation:' || n_nationkey,
             'region:' || n_regionkey,
             'region:' || n_regionkey
      FROM nation
    """


# NOT EXISTS = anti join: customers with no LOW-KEY order (?order key
# <= 999 via regex) — the sub-pattern carries its own scoped FILTER
GATE_NOT_EXISTS = """
  SELECT ?cust ?nation WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
    FILTER NOT EXISTS {
      GRAPH <graph://tpch> { ?order <placed_by> ?cust }
      FILTER (regex(?order, "^order:[0-9]{1,3}$"))
    }
  }
"""


def sparql_not_exists_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_NOT_EXISTS)


def sparql_not_exists_sql() -> str:
    # independent derivation: the regex is just "order key has <= 3 digits"
    return """
      SELECT 'cust:' || c_custkey AS cust,
             'nation:' || c_nationkey AS nation
      FROM customer
      WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderkey BETWEEN 0 AND 999
      )
    """


# EXISTS as a boolean OPERAND (§17.4.1.4): a disjunction and a negated
# conjunct in ONE filter tree — inexpressible as plain semi/anti joins.
# Customers that either placed an order while outside nation:3, or whose
# nation is not in region:0.
GATE_EXISTS_EXPR = """
  SELECT ?cust ?nation WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
    FILTER (
      (EXISTS { GRAPH <graph://tpch> { ?order <placed_by> ?cust }
                FILTER (regex(?order, "^order:[0-9]{1,3}$")) }
        && ?nation != <nation:3>)
      || NOT EXISTS {
        GRAPH <graph://tpch> { ?nation <in_region> <region:0> }
      }
    )
  }
"""


def sparql_exists_expr_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_EXISTS_EXPR)


def sparql_exists_expr_sql() -> str:
    return """
      SELECT 'cust:' || c_custkey AS cust,
             'nation:' || c_nationkey AS nation
      FROM customer c
      WHERE (EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderkey BETWEEN 0 AND 999)
             AND c.c_nationkey <> 3)
         OR NOT EXISTS (SELECT 1 FROM nation n
                        WHERE n.n_nationkey = c.c_nationkey
                          AND n.n_regionkey = 0)
    """


# EXISTS operand over a possibly-unbound shared variable (spec §18.5
# compatible mappings): customers with an OPTIONAL order — a customer
# without orders leaves ?ord unbound, which is compatible with EVERY
# sub-pattern solution, so those rows pass as long as any nation-5
# order exists; bound rows pass only when THEIR order was placed by a
# nation-5 customer (or via the disjunction's nation-3 arm, which
# proves the marker composes instead of reducing to a semi-join)
GATE_EXISTS_COMPAT = """
  SELECT ?cust ?nation ?ord WHERE {
    GRAPH <graph://tpch> {
      ?cust <in_nation> ?nation
      OPTIONAL { ?ord <placed_by> ?cust }
    }
    FILTER (EXISTS { GRAPH <graph://tpch> {
                       ?ord <placed_by> ?c2 . ?c2 <in_nation> <nation:5>
                     } }
            || ?nation = <nation:3>)
  }
"""


def sparql_exists_compat_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_EXISTS_COMPAT)


def sparql_exists_compat_sql() -> str:
    return """
      WITH acc AS (
        SELECT 'cust:' || c.c_custkey AS cust,
               'nation:' || c.c_nationkey AS nation,
               'order:' || o.o_orderkey AS ord
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      )
      SELECT cust, nation, ord FROM acc
      WHERE EXISTS (
              SELECT 1
              FROM orders o2
              JOIN customer c2 ON o2.o_custkey = c2.c_custkey
              WHERE c2.c_nationkey = 5
                AND (acc.ord IS NULL
                     OR acc.ord = 'order:' || o2.o_orderkey))
         OR nation = 'nation:3'
    """


# query-final VALUES clause (§7.2.3), joined after Aggregation+HAVING
# (§18.2.4.2): restrict the per-nation customer counts to a pinned
# nation list (one absent member proves the join, not a filter pushdown)
GATE_TRAILING_VALUES = """
  SELECT ?nation (COUNT(*) AS ?n_cust) WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
  } GROUP BY ?nation
  VALUES ?nation { <nation:0> <nation:7> <nation:19> <nation:99> }
"""


def sparql_trailing_values_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_TRAILING_VALUES)


def sparql_trailing_values_sql() -> str:
    return """
      SELECT nation, n_cust FROM (
        SELECT 'nation:' || c_nationkey AS nation,
               COUNT(*) AS n_cust
        FROM customer GROUP BY 1
      ) WHERE nation IN ('nation:0', 'nation:7', 'nation:19', 'nation:99')
    """


# property path: the descendants cone of node:1, closed by the engine's
# smart-TC fixpoint (oracle: recursive CTE over the same edge derivation)
GATE_PATH = """
  SELECT ?d ?g WHERE { GRAPH ?g { ?d <parent>+ <node:1> } }
"""


def sparql_path_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tree_edges

    return sparql_select(tree_edges(spark, sf_dir), GATE_PATH)


def sparql_path_sql() -> str:
    from .ops.quads import TREE_G

    return f"""
      WITH RECURSIVE e AS (
        SELECT 'node:' || c_custkey AS s, 'node:' || (c_custkey // 2) AS o
        FROM customer WHERE c_custkey >= 1
      ),
      down AS (
        SELECT s FROM e WHERE o = 'node:1'
        UNION
        SELECT e.s FROM e JOIN down ON e.o = down.s
      )
      SELECT s AS d, '{TREE_G}' AS g FROM down
    """


# CONSTRUCT as one-shot KG derivation: customer -> region shortcut edges
# materialized into a named graph
GATE_CONSTRUCT = """
  CONSTRUCT {
    GRAPH <graph://derived> { ?cust <located_in> ?region }
  } WHERE {
    GRAPH <graph://tpch> {
      ?cust <in_nation> ?nation .
      ?nation <in_region> ?region
    }
  }
"""


def sparql_construct_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_construct(tpch_quads(spark, sf_dir), GATE_CONSTRUCT)


def sparql_construct_sql() -> str:
    return """
      SELECT DISTINCT 'cust:' || c_custkey AS s,
             'located_in' AS p,
             'region:' || n_regionkey AS o,
             'graph://derived' AS g
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    """


# skip-incomplete-triple (spec §16.2): every customer keeps its marker
# triple, but only customers with a low-key order (an OPTIONAL that
# misses elsewhere) emit the <early_order> triple — the template quads
# split by maybe-var signature into two null-filtered head projections
GATE_CONSTRUCT_SKIP = """
  CONSTRUCT {
    GRAPH <graph://derived> {
      ?cust <early_order> ?order .
      ?cust <kept> "y"
    }
  } WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
    OPTIONAL {
      GRAPH <graph://tpch> { ?order <placed_by> ?cust }
      FILTER (regex(?order, "^order:[0-9]{1,3}$"))
    }
  }
"""


def sparql_construct_skip_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_construct(tpch_quads(spark, sf_dir), GATE_CONSTRUCT_SKIP)


def sparql_construct_skip_sql() -> str:
    # independent derivation: the regex is "order key has <= 3 digits"
    return """
      SELECT DISTINCT 'cust:' || o_custkey AS s, 'early_order' AS p,
             'order:' || o_orderkey AS o, 'graph://derived' AS g
      FROM orders WHERE o_orderkey BETWEEN 0 AND 999
      UNION
      SELECT DISTINCT 'cust:' || c_custkey, 'kept', 'y', 'graph://derived'
      FROM customer
    """


# path expression without a closure: inverse + sequence — region swept to
# its customers through two reversed edges, one equi-join chain, no fixpoint
GATE_PATH_EXPR = """
  SELECT ?region ?cust WHERE {
    GRAPH <graph://tpch> { ?region (^<in_region>/^<in_nation>) ?cust }
  }
"""

# zero-or-more: the descendants-or-self cone (the + closure plus the
# zero-length identity restricted to the constant endpoint)
GATE_PATH_STAR = """
  SELECT ?d WHERE { GRAPH <graph://tree> { ?d <parent>* <node:1> } }
"""


def sparql_path_expr_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_PATH_EXPR)


def sparql_path_expr_sql() -> str:
    return """
      SELECT DISTINCT 'region:' || n.n_regionkey AS region,
             'cust:' || c.c_custkey AS cust
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    """


def sparql_path_star_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tree_edges

    return sparql_select(tree_edges(spark, sf_dir), GATE_PATH_STAR)


def sparql_path_star_sql() -> str:
    return """
      WITH RECURSIVE e AS (
        SELECT 'node:' || c_custkey AS s, 'node:' || (c_custkey // 2) AS o
        FROM customer WHERE c_custkey >= 1
      ),
      down AS (
        SELECT s FROM e WHERE o = 'node:1'
        UNION
        SELECT e.s FROM e JOIN down ON e.o = down.s
      )
      SELECT s AS d FROM down
      UNION
      SELECT 'node:1' AS d
    """


# GROUP_CONCAT (sorted, SQL twin string_agg ORDER BY) + SAMPLE (min) per
# nation, over the customer edge
GATE_AGG_CONCAT = """
  SELECT ?nation (GROUP_CONCAT(?cust ; SEPARATOR = ",") AS ?custs)
         (SAMPLE(?cust) AS ?any)
  WHERE { GRAPH <graph://tpch> { ?cust <in_nation> ?nation } }
  GROUP BY ?nation
"""

# numeric FILTER: try_cast comparison over the integer total_cents lexeme
# (lexicographic would misorder '999...' vs '10000...')
GATE_NUMERIC_FILTER = """
  SELECT ?o ?t WHERE {
    GRAPH <graph://tpch> { ?o <total_cents> ?t }
    FILTER (?t >= 40000000)
  }
"""


def sparql_agg_concat_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_AGG_CONCAT)


def sparql_agg_concat_sql() -> str:
    return """
      SELECT 'nation:' || c_nationkey AS nation,
             string_agg('cust:' || c_custkey, ','
                        ORDER BY 'cust:' || c_custkey) AS custs,
             MIN('cust:' || c_custkey) AS any
      FROM customer
      GROUP BY c_nationkey
    """


def sparql_numeric_filter_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_NUMERIC_FILTER)


def sparql_numeric_filter_sql() -> str:
    return """
      SELECT 'order:' || o_orderkey AS o,
             CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS t
      FROM orders
      WHERE CAST(FLOOR(o_totalprice * 100) AS BIGINT) >= 40000000
    """


# compatible-mappings join: ?nation is bound in only one UNION branch, so
# the following pattern joins on a possibly-unbound key — a null is
# compatible with any (nation, region) pair and the merged ?nation takes
# the bound side (spec §18.5 Join). No definitely-bound shared key
# exists, so the evaluator's null-split decomposition runs: the customer
# branch equi-joins on ?nation, the orders branch (null ?nation)
# cross-joins the 25-row nation relation.
GATE_COMPAT_JOIN = """
  SELECT ?cust ?nation ?region WHERE {
    GRAPH <graph://tpch> {
      { ?cust <in_nation> ?nation } UNION { ?ord <placed_by> ?cust }
      ?nation <in_region> ?region .
    }
  }
"""


def sparql_compat_join_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_COMPAT_JOIN)


def sparql_compat_join_sql() -> str:
    return """
      WITH lhs AS (
        SELECT 'cust:' || c_custkey AS cust,
               'nation:' || c_nationkey AS nation
        FROM customer
        UNION ALL
        SELECT 'cust:' || o_custkey AS cust, NULL AS nation
        FROM orders
      ), rhs AS (
        SELECT 'nation:' || n_nationkey AS nation,
               'region:' || n_regionkey AS region
        FROM nation
      )
      SELECT lhs.cust AS cust,
             COALESCE(lhs.nation, rhs.nation) AS nation,
             rhs.region AS region
      FROM lhs JOIN rhs
        ON (lhs.nation IS NULL OR lhs.nation = rhs.nation)
    """


# entailment-regime query: the located_in shortcut is NOT in the data —
# a rule derives it, and the SPARQL aggregate runs over the entailed store
GATE_ENTAILED = """
  SELECT ?region (COUNT(?cust) AS ?n_cust) WHERE {
    GRAPH <graph://tpch> { ?cust <located_in> ?region }
  } GROUP BY ?region
"""


def sparql_entailed_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads
    from .rules import Bound as RB, Rule, Unbound as RU

    rules = [
        Rule.create(
            [
                [RU("c"), RB("in_nation"), RU("n"), RU("g")],
                [RU("n"), RB("in_region"), RU("r"), RU("g")],
            ],
            [[RU("c"), RB("located_in"), RU("r"), RU("g")]],
        )
    ]
    return sparql_query_entailed(
        spark, tpch_quads(spark, sf_dir), rules, GATE_ENTAILED
    )


def sparql_entailed_sql() -> str:
    return """
      SELECT 'region:' || n.n_regionkey AS region,
             CAST(COUNT(c.c_custkey) AS BIGINT) AS n_cust
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_regionkey
    """


# subquery: per-customer order counts aggregated bottom-up, then joined
# to the nation edge in the enclosing group (aggregate-then-join algebra)
GATE_SUBQUERY = """
  SELECT ?nation ?cust ?n_orders WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
    { SELECT ?cust (COUNT(?o) AS ?n_orders) WHERE {
        GRAPH <graph://tpch> { ?o <placed_by> ?cust }
      } GROUP BY ?cust }
  }
"""


def sparql_subquery_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_SUBQUERY)


def sparql_subquery_sql() -> str:
    return """
      SELECT 'nation:' || c.c_nationkey AS nation,
             'cust:' || c.c_custkey AS cust,
             CAST(t.n AS BIGINT) AS n_orders
      FROM customer c
      JOIN (
        SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
      ) t ON t.o_custkey = c.c_custkey
    """


# aggregates over the left-join algebra: per-nation order/customer counts
# through an OPTIONAL (customers without orders count 0 orders but 1
# customer), HAVING reusing the selected COUNT column
GATE_AGG_COUNT = """
  SELECT ?nation (COUNT(?order) AS ?n_orders) (COUNT(DISTINCT ?cust) AS ?n_cust)
  WHERE {
    GRAPH <graph://tpch> {
      ?cust <in_nation> ?nation
      OPTIONAL { ?order <placed_by> ?cust }
    }
  } GROUP BY ?nation HAVING (COUNT(?order) >= 10)
"""

# SUM over integer lexemes + MAX over the raw lexeme (lexicographic — the
# documented opaque-term contract: '999...' can exceed '10000...'), with a
# hidden HAVING aggregate (MIN) that never reaches the output schema
GATE_AGG_SUM = """
  SELECT ?cust (SUM(?t) AS ?total_cents) (MAX(?t) AS ?max_lex)
  WHERE {
    GRAPH <graph://tpch> {
      ?o <placed_by> ?cust .
      ?o <total_cents> ?t
    }
  } GROUP BY ?cust HAVING (MIN(?t) != "0" && SUM(?t) > 0)
"""


def _order_total_quads(spark, sf_dir: str) -> DataFrame:
    """tpch_quads plus ``order:N <total_cents> "<int>"`` literals —
    FLOOR(o_totalprice * 100): the same IEEE double multiply + floor in
    both engines, so the lexeme is bit-identical to the SQL twin's."""
    from .ops.quads import tpch_quads

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    totals = orders.select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("total_cents").alias("p"),
        F.floor(F.col("o_totalprice") * 100).cast("string").alias("o"),
        F.lit("graph://tpch").alias("g"),
    )
    return tpch_quads(spark, sf_dir).unionByName(totals)


# AVG over integer lexemes grouped by nation: a DOUBLE output column,
# deterministic (exact integral sum / count in one IEEE division — both
# engines agree bit-for-bit); HAVING on the average
GATE_AVG = """
  SELECT ?nation (AVG(?t) AS ?avg_cents) (COUNT(?o) AS ?n) WHERE {
    GRAPH <graph://tpch> {
      ?o <placed_by> ?cust .
      ?cust <in_nation> ?nation .
      ?o <total_cents> ?t
    }
  }
  GROUP BY ?nation
  HAVING (AVG(?t) > 1000000)
"""


def sparql_avg_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_AVG)


def sparql_avg_sql() -> str:
    return """
      SELECT 'nation:' || c.c_nationkey AS nation,
             AVG(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
               AS avg_cents,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
      HAVING AVG(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) > 1000000
    """


def sparql_agg_count_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_AGG_COUNT)


def sparql_agg_count_sql() -> str:
    return """
      SELECT 'nation:' || c.c_nationkey AS nation,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_cust
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
      HAVING COUNT(o.o_orderkey) >= 10
    """


def sparql_agg_sum_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_AGG_SUM)


def sparql_agg_sum_sql() -> str:
    return """
      SELECT 'cust:' || o_custkey AS cust,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             MAX(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR))
               AS max_lex
      FROM orders
      GROUP BY o_custkey
      HAVING MIN(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR))
               <> '0'
         AND SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) > 0
    """


# BIND + expression algebra: CONCAT over two pattern variables, integer
# arithmetic over the total_cents lexeme (try_cast BIGINT, rendered back
# as a — possibly negative — decimal lexeme) consumed by a numeric FILTER,
# and an expression SELECT item (STRLEN)
GATE_BIND = """
  SELECT ?order ?pair (STRLEN(?nation) AS ?len) WHERE {
    GRAPH <graph://tpch> {
      ?order <placed_by> ?cust .
      ?cust <in_nation> ?nation .
      ?order <total_cents> ?t
    }
    BIND(CONCAT(?nation, "|", ?cust) AS ?pair)
    BIND(?t - 10000000 AS ?net)
    FILTER (?net > 0)
  }
"""


def sparql_bind_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_BIND)


def sparql_bind_sql() -> str:
    return """
      SELECT 'order:' || o.o_orderkey AS "order",
             'nation:' || c.c_nationkey || '|' || 'cust:' || c.c_custkey
               AS pair,
             CAST(LENGTH('nation:' || c.c_nationkey) AS VARCHAR) AS len
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) - 10000000 > 0
    """


# compound FILTER surface: IN / NOT IN lists, boolean parentheses, !( )
# group negation, plus blank nodes as nondistinguished join variables
# (the anonymous [] requires an order to exist; _:r requires the nation
# to be in some region — both joins never reach the projection)
GATE_FILTER_COMPOUND = """
  SELECT ?c ?n WHERE {
    GRAPH <graph://tpch> {
      [] <placed_by> ?c .
      ?c <in_nation> ?n .
      ?n <in_region> _:r
    }
    FILTER ((?n IN ("nation:1", "nation:3", "nation:7") || ?n = "nation:5")
            && ?c NOT IN ("cust:10", "cust:11") && !(?c = "cust:12"))
  }
"""


def sparql_filter_compound_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_FILTER_COMPOUND)


def sparql_filter_compound_sql() -> str:
    # one row per matching order (bag semantics: the anonymous [] join
    # multiplies by the customer's order count, like the Spark plan)
    return """
      SELECT 'cust:' || c.c_custkey AS c, 'nation:' || c.c_nationkey AS n
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nt ON nt.n_nationkey = c.c_nationkey
      WHERE ('nation:' || c.c_nationkey
               IN ('nation:1', 'nation:3', 'nation:7')
             OR 'nation:' || c.c_nationkey = 'nation:5')
        AND 'cust:' || c.c_custkey NOT IN ('cust:10', 'cust:11')
        AND NOT ('cust:' || c.c_custkey = 'cust:12')
    """


# scalar built-in functions: STRBEFORE / STRAFTER / REPLACE / MD5+SUBSTR /
# IF over a numeric condition — every value derivable by the DuckDB twin
GATE_SCALAR_FUNCS = """
  SELECT ?cust ?nkey ?tier ?h ?cid WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
    BIND(STRAFTER(?nation, ":") AS ?nkey)
    BIND(IF(?nkey > 11, "high", CONCAT("low-", ?nkey)) AS ?tier)
    BIND(SUBSTR(MD5(?cust), 1, 12) AS ?h)
    BIND(REPLACE(?cust, "cust:", "c-") AS ?cid)
    FILTER (STRBEFORE(?nation, ":") = "nation")
  }
"""


def sparql_scalar_funcs_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_SCALAR_FUNCS)


def sparql_scalar_funcs_sql() -> str:
    return """
      SELECT 'cust:' || c_custkey AS cust,
             CAST(c_nationkey AS VARCHAR) AS nkey,
             CASE WHEN c_nationkey > 11 THEN 'high'
                  ELSE 'low-' || c_nationkey END AS tier,
             substr(md5('cust:' || c_custkey), 1, 12) AS h,
             regexp_replace('cust:' || c_custkey, 'cust:', 'c-', 'g')
               AS cid
      FROM customer
    """


# OPTIONAL with a deferred filter over an outer variable: the LeftJoin
# condition (spec §18.2.2.2) — per-customer orders above a
# nation-dependent threshold; a customer with no qualifying order keeps
# one row with ?o unbound, exactly SQL's LEFT JOIN ... ON extra-condition
GATE_OPTIONAL_COND = """
  SELECT ?cust ?nkey ?o WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
    BIND(STRAFTER(?nation, ":") AS ?nkey)
    OPTIONAL {
      GRAPH <graph://tpch> { ?o <placed_by> ?cust . ?o <total_cents> ?t }
      FILTER (?t > 27000000 + ?nkey)
    }
  }
"""


def sparql_optional_cond_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_OPTIONAL_COND)


def sparql_optional_cond_sql() -> str:
    return """
      SELECT 'cust:' || c.c_custkey AS cust,
             CAST(c.c_nationkey AS VARCHAR) AS nkey,
             'order:' || o.o_orderkey AS o
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)
           > 27000000 + c.c_nationkey
    """


# ABS over the integer-lexeme arithmetic model: per-customer distance of
# the nation key from a pivot, filtered numerically — all pure JVM
# expressions (try_cast / abs / cast), DuckDB twin shares the pivot
GATE_NUMERIC_FUNCS = """
  SELECT ?cust ?nkey ?d WHERE {
    GRAPH <graph://tpch> { ?cust <in_nation> ?nation }
    BIND(STRAFTER(?nation, ":") AS ?nkey)
    BIND(ABS(?nkey - 12) AS ?d)
    FILTER (?d < 9)
  }
"""


def sparql_numeric_funcs_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_NUMERIC_FUNCS)


def sparql_numeric_funcs_sql() -> str:
    return """
      SELECT 'cust:' || c_custkey AS cust,
             CAST(c_nationkey AS VARCHAR) AS nkey,
             CAST(ABS(c_nationkey - 12) AS VARCHAR) AS d
      FROM customer
      WHERE ABS(c_nationkey - 12) < 9
    """


# negated property set: a mixed forward/inverse NPS — the forward leg is
# every non-placed_by edge, the inverse leg every flipped non-in_region edge
GATE_NPS = """
  SELECT ?s ?o WHERE {
    GRAPH <graph://tpch> { ?s !(<placed_by> | ^<in_region>) ?o }
  }
"""


def sparql_nps_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_NPS)


def sparql_nps_sql() -> str:
    return """
      SELECT DISTINCT s, o FROM (
        SELECT 'cust:' || c_custkey AS s, 'nation:' || c_nationkey AS o
        FROM customer
        UNION ALL
        SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey
        FROM nation
        UNION ALL
        SELECT 'cust:' || o_custkey, 'order:' || o_orderkey FROM orders
        UNION ALL
        SELECT 'nation:' || c_nationkey, 'cust:' || c_custkey
        FROM customer
      )
    """


# CONSTRUCT-template blank nodes: _:e mints one fresh node per solution
# (deterministic md5 of the bindings — the SQL twin reproduces it exactly)
GATE_CONSTRUCT_BNODE = """
  CONSTRUCT { ?c <linked_via> _:e . _:e <to> ?n }
  WHERE { GRAPH <graph://tpch> { ?c <in_nation> ?n } }
"""


def sparql_construct_bnode_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_construct(tpch_quads(spark, sf_dir), GATE_CONSTRUCT_BNODE)


def sparql_construct_bnode_sql() -> str:
    return """
      WITH sol AS (
        SELECT 'cust:' || c_custkey AS c, 'nation:' || c_nationkey AS n,
               '_:' || md5('__bn_e' || chr(31) || 'cust:' || c_custkey
                           || chr(31) || 'nation:' || c_nationkey) AS e
        FROM customer
      )
      SELECT c AS s, 'linked_via' AS p, e AS o, 'default_graph' AS g
      FROM sol
      UNION ALL
      SELECT DISTINCT e, 'to', n, 'default_graph' FROM sol
    """


# aggregate arguments as scalar expressions: SUM over arithmetic,
# COUNT(DISTINCT CONCAT(...)), MIN(STRLEN(...)) — all per-row expression
# evaluation under one partial-aggregating shuffle; HAVING reuses the
# selected SUM's column (same expression key)
GATE_AGG_EXPR = """
  SELECT ?nation (SUM(?t - 1000000) AS ?excess)
         (COUNT(DISTINCT CONCAT(?cust, "#", ?nation)) AS ?nc)
         (MIN(STRLEN(?t)) AS ?minlen)
  WHERE {
    GRAPH <graph://tpch> {
      ?o <placed_by> ?cust .
      ?cust <in_nation> ?nation .
      ?o <total_cents> ?t
    }
  }
  GROUP BY ?nation
  HAVING (SUM(?t - 1000000) > 0)
"""


def sparql_agg_expr_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_AGG_EXPR)


def sparql_agg_expr_sql() -> str:
    return """
      SELECT 'nation:' || c.c_nationkey AS nation,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)
                      - 1000000) AS BIGINT) AS excess,
             CAST(COUNT(DISTINCT 'cust:' || c.c_custkey || '#' ||
                        'nation:' || c.c_nationkey) AS BIGINT) AS nc,
             MIN(CAST(LENGTH(CAST(CAST(FLOOR(o.o_totalprice * 100)
                 AS BIGINT) AS VARCHAR)) AS VARCHAR)) AS minlen
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
      HAVING SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) - 1000000)
             > 0
    """


# aggregates as OPERANDS of projection expressions (§18.2.4.1):
# integer arithmetic over SUM/COUNT hidden columns plus a string
# function over a COUNT DISTINCT, next to the group key
GATE_AGG_ARITH = """
  SELECT ?nation ((SUM(?t) - 1000 * COUNT(*)) AS ?adj_cents)
         (CONCAT(?nation, "#", STR(COUNT(DISTINCT ?cust))) AS ?tag)
  WHERE {
    GRAPH <graph://tpch> {
      ?o <placed_by> ?cust .
      ?cust <in_nation> ?nation .
      ?o <total_cents> ?t
    }
  }
  GROUP BY ?nation
"""


def sparql_agg_arith_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_AGG_ARITH)


def sparql_agg_arith_sql() -> str:
    return """
      SELECT 'nation:' || c.c_nationkey AS nation,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
                  - 1000 * COUNT(*) AS VARCHAR) AS adj_cents,
             'nation:' || c.c_nationkey || '#' ||
               CAST(COUNT(DISTINCT c.c_custkey) AS VARCHAR) AS tag
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    """


# general HAVING constraint trees: aggregate-vs-aggregate arithmetic
# disjoined with a group-key comparison — beyond the legacy
# aggregate-vs-constant subset
GATE_HAVING_EXPR = """
  SELECT ?nation (COUNT(*) AS ?n) WHERE {
    GRAPH <graph://tpch> {
      ?o <placed_by> ?cust .
      ?cust <in_nation> ?nation .
      ?o <total_cents> ?t
    }
  }
  GROUP BY ?nation
  HAVING (SUM(?t) - 24900000 * COUNT(*) > 0 || ?nation = <nation:0>)
"""


def sparql_having_expr_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_HAVING_EXPR)


def sparql_having_expr_sql() -> str:
    return """
      SELECT 'nation:' || c.c_nationkey AS nation,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
      HAVING SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
             - 24900000 * COUNT(*) > 0
          OR 'nation:' || c.c_nationkey = 'nation:0'
    """


# ORDER BY expression keys: numeric DESC over the total lexeme (where
# lexicographic order would be WRONG: '999...' > '10000...') with an
# ascending tie-break — a total order, so the LIMIT cut is engine-stable;
# plans as one global top-k (TakeOrderedAndProject), not a full sort
GATE_ORDER_EXPR = """
  SELECT ?o ?t WHERE {
    GRAPH <graph://tpch> { ?o <total_cents> ?t }
  }
  ORDER BY DESC(?t + 0) ?o
  LIMIT 20
"""


def sparql_order_expr_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_ORDER_EXPR)


def sparql_order_expr_sql() -> str:
    return """
      SELECT 'order:' || o_orderkey AS o,
             CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               AS t
      FROM orders
      ORDER BY CAST(FLOOR(o_totalprice * 100) AS BIGINT) DESC,
               'order:' || o_orderkey
      LIMIT 20
    """


# GROUP BY expression keys: (STRLEN(?t) AS ?k) materializes
# pre-aggregation (BIND-then-GROUP-BY), one partial-aggregating shuffle
GATE_GROUP_EXPR = """
  SELECT ?k (COUNT(*) AS ?n) (SUM(?t) AS ?tot)
  WHERE { GRAPH <graph://tpch> { ?o <total_cents> ?t } }
  GROUP BY (STRLEN(?t) AS ?k)
"""


def sparql_group_expr_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_order_total_quads(spark, sf_dir), GATE_GROUP_EXPR)


def sparql_group_expr_sql() -> str:
    return """
      SELECT CAST(LENGTH(lex) AS VARCHAR) AS k,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(lex AS BIGINT)) AS BIGINT) AS tot
      FROM (
        SELECT CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                 AS lex
        FROM orders
      )
      GROUP BY 1
    """


# FROM dataset clause: the named tpch graph becomes the query's default
# graph (re-tag + pattern match without GRAPH), composed with a FROM
# NAMED keeping a second graph visible to a GRAPH pattern
GATE_DATASET = """
  SELECT ?c ?n ?o FROM <graph://tpch> FROM NAMED <graph://totals>
  WHERE {
    ?c <in_nation> ?n .
    GRAPH <graph://totals> { ?o <placed_by> ?c }
  }
"""


def sparql_dataset_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    quads = tpch_quads(spark, sf_dir)
    # re-tag the placed_by edges as a second named graph so the gate
    # exercises both clause kinds over one store
    store = quads.withColumn(
        "g",
        F.when(F.col("p") == "placed_by", F.lit("graph://totals"))
        .otherwise(F.col("g")),
    )
    return sparql_select(store, GATE_DATASET)


def sparql_dataset_sql() -> str:
    return """
      SELECT 'cust:' || c.c_custkey AS c,
             'nation:' || c.c_nationkey AS n,
             'order:' || o.o_orderkey AS o
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    """


# DESCRIBE: constants + WHERE-bound variables; one-hop forward description
# via a distinct resource set left_semi-joined against the store on s
GATE_DESCRIBE = """
  DESCRIBE <cust:1> ?n WHERE {
    GRAPH <graph://tpch> { ?c <in_nation> ?n }
    FILTER (?n < "nation:2")
  }
"""


def sparql_describe_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_describe(tpch_quads(spark, sf_dir), GATE_DESCRIBE)


def sparql_describe_sql() -> str:
    return """
      SELECT 'nation:' || n_nationkey AS s, 'in_region' AS p,
             'region:' || n_regionkey AS o, 'graph://tpch' AS g
      FROM nation
      WHERE 'nation:' || n_nationkey < 'nation:2'
        AND n_nationkey IN (SELECT c_nationkey FROM customer)
      UNION ALL
      SELECT 'cust:' || c_custkey, 'in_nation',
             'nation:' || c_nationkey, 'graph://tpch'
      FROM customer WHERE c_custkey = 1
    """


def sparql_bgp(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_BGP)


def sparql_bgp_sql() -> str:
    return """
      SELECT 'order:' || o.o_orderkey AS "order",
             'nation:' || c.c_nationkey AS nation
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_nationkey <> 0
    """


def sparql_modifiers(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(tpch_quads(spark, sf_dir), GATE_MODIFIERS)


def sparql_modifiers_sql() -> str:
    # the string inequality and DESC order are on the 'cust:N' lexeme, so
    # the oracle compares/orders the same concatenated strings
    return """
      SELECT DISTINCT 'cust:' || c_custkey AS cust,
             'nation:' || c_nationkey AS nation
      FROM customer
      WHERE 'cust:' || c_custkey < 'cust:2'
      ORDER BY cust DESC LIMIT 500
    """


# ---------------------------------------------------------------------------
# term-kind gate: a raw-term-convention store built from TPC-H customer
# rows — lang-tagged name literals, typed integer balance literals, bare
# IRI nation links — queried through the full term-function family
# (isIRI / isLiteral / isBlank / isNumeric / langMatches / LANG /
# DATATYPE / STR) plus '*' multiplication. Every projection is a pure
# JVM when/regexp expression; the DuckDB twin is the closed form the
# construction guarantees, so a hash mismatch pins a term-machinery bug.
# ---------------------------------------------------------------------------

XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"

GATE_TERM_FUNCS = """
  SELECT ?cust ?name ?lang ?dt ?bal2 WHERE {
    GRAPH <graph://term> {
      ?cust <name> ?name .
      ?cust <acct_cents> ?a .
      ?cust <in_nation> ?nat .
    }
    FILTER(isIRI(?nat) && isLiteral(?name) && !isBlank(?cust)
           && isNumeric(?a) && langMatches(LANG(?name), "EN"))
    BIND(LANG(?name) AS ?lang)
    BIND(DATATYPE(?a) AS ?dt)
    BIND(STR(?a) * 2 AS ?bal2)
  }
"""


def _term_convention_quads(spark, sf_dir: str) -> DataFrame:
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    g = F.lit("graph://term")
    s = F.concat(F.lit("cust:"), F.col("c_custkey"))
    name = customer.select(
        s.alias("s"),
        F.lit("name").alias("p"),
        F.concat(F.lit('"'), F.col("c_name"), F.lit('"@en')).alias("o"),
        g.alias("g"),
    )
    # FLOOR(c_acctbal * 100): the same IEEE multiply+floor in both
    # engines, so the typed-literal lexeme is bit-identical to the twin's
    acct = customer.select(
        s.alias("s"),
        F.lit("acct_cents").alias("p"),
        F.concat(
            F.lit('"'),
            F.floor(F.col("c_acctbal") * 100).cast("string"),
            F.lit('"^^<' + XSD_INTEGER + ">"),
        ).alias("o"),
        g.alias("g"),
    )
    nat = customer.select(
        s.alias("s"),
        F.lit("in_nation").alias("p"),
        F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("o"),
        g.alias("g"),
    )
    return name.unionByName(acct).unionByName(nat)


def sparql_term_funcs_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_term_convention_quads(spark, sf_dir), GATE_TERM_FUNCS)


def sparql_term_funcs_sql() -> str:
    # every customer passes the term-kind filters by construction; the
    # oracle recomputes the projections in closed form
    return """
      SELECT 'cust:' || c_custkey AS cust,
             '"' || c_name || '"@en' AS name,
             'en' AS lang,
             'http://www.w3.org/2001/XMLSchema#integer' AS dt,
             CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) * 2 AS VARCHAR)
               AS bal2
      FROM customer
    """


# ---------------------------------------------------------------------------
# datetime gate: a typed xsd:dateTime store built from TPC-H orders — the
# date from o_orderdate, a synthesized time-of-day / fractional second /
# timezone keyed deterministically off o_orderkey so every accessor
# branch (Z vs ±hh:mm vs half-hour offsets, padded vs fraction seconds)
# is exercised. The whole family is pure JVM regexp/when expressions;
# the DuckDB twin recomputes each field in closed form from the same
# key arithmetic, so a hash mismatch pins the accessor machinery.
# ---------------------------------------------------------------------------

GATE_DATETIME = """
  SELECT ?ord ?y ?mo ?d ?h ?mi ?s ?tz ?dur WHERE {
    GRAPH <graph://dt> { ?ord <placed_at> ?t . }
    BIND(YEAR(?t) AS ?y)    BIND(MONTH(?t) AS ?mo)
    BIND(DAY(?t) AS ?d)     BIND(HOURS(?t) AS ?h)
    BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?s)
    BIND(TZ(?t) AS ?tz)
    BIND(COALESCE(TIMEZONE(?t), "tz-error") AS ?dur)
    FILTER(MONTH(?t) >= 1 && DAY(?t) <= 31 && YEAR(?t) > 1900)
  }
"""


def _datetime_quads(spark, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    hh = F.lpad((k % 24).cast("string"), 2, "0")
    mi = F.lpad((k % 60).cast("string"), 2, "0")
    ss = F.concat(
        F.lpad(((k * 7) % 60).cast("string"), 2, "0"),
        F.when(k % 5 == 0, F.lit(".25")).otherwise(F.lit("")),
    )
    tz = (
        F.when(k % 3 == 0, F.lit("Z"))
        .when(k % 3 == 1, F.lit("+05:30"))
        .otherwise(F.lit("-08:00"))
    )
    lex = F.concat(
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("T"), hh, F.lit(":"), mi, F.lit(":"), ss, tz,
    )
    return orders.select(
        F.concat(F.lit("order:"), k).alias("s"),
        F.lit("placed_at").alias("p"),
        F.concat(
            F.lit('"'), lex, F.lit('"^^<' + XSD_DATETIME + ">")
        ).alias("o"),
        F.lit("graph://dt").alias("g"),
    )


def sparql_datetime_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(_datetime_quads(spark, sf_dir), GATE_DATETIME)


def sparql_datetime_sql() -> str:
    # closed form: every order passes the FILTER by construction (TPC-H
    # dates are 1992-1998); the twin re-derives each accessor from the
    # same o_orderkey arithmetic the store builder used
    return """
      SELECT 'order:' || o_orderkey AS ord,
             CAST(year(o_orderdate) AS VARCHAR) AS y,
             CAST(month(o_orderdate) AS VARCHAR) AS mo,
             CAST(day(o_orderdate) AS VARCHAR) AS d,
             CAST(o_orderkey % 24 AS VARCHAR) AS h,
             CAST(o_orderkey % 60 AS VARCHAR) AS mi,
             CAST((o_orderkey * 7) % 60 AS VARCHAR)
               || CASE WHEN o_orderkey % 5 = 0 THEN '.25' ELSE '' END AS s,
             CASE o_orderkey % 3 WHEN 0 THEN 'Z'
                  WHEN 1 THEN '+05:30' ELSE '-08:00' END AS tz,
             CASE o_orderkey % 3
                  WHEN 0 THEN '"PT0S"'
                  WHEN 1 THEN '"PT5H30M"'
                  ELSE '"-PT8H"' END
               || '^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>'
               AS dur
      FROM orders
    """


# ---------------------------------------------------------------------------
# literal-term gate: RDF literal constants in query text — lang-tagged /
# ^^-typed forms compile to the raw-lexeme convention, bare numerics to
# the engine's plain decimal lexeme — matched as constant-slot pushed
# filters over a mixed store built from TPC-H customers. The DuckDB twin
# re-derives the selected population in closed form from the same key
# arithmetic, so a mismatch pins the term-grammar compilation.
# ---------------------------------------------------------------------------

GATE_LITERAL_TERMS = """
  BASE <http://g/>
  PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
  SELECT REDUCED ?c ?band WHERE {
    GRAPH <lit> {
      ?c <flag> "yes"@en .
      ?c <nkids> 3 .
      ?c <band> ?band .
    }
    FILTER(?band = "2"^^xsd:integer || ?band = "0"^^xsd:integer)
  }
"""


def _literal_terms_quads(spark, sf_dir: str) -> DataFrame:
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    s = F.concat(F.lit("cust:"), k)
    # under BASE <http://g/> every relative <...> in the query resolves
    # (predicates included, per RFC 3986) — the store carries the
    # resolved forms
    g = F.lit("http://g/lit")

    def q(p, o):
        return customer.select(
            s.alias("s"),
            F.lit("http://g/" + p).alias("p"),
            o.alias("o"),
            g.alias("g"),
        )

    flag = q(
        "flag",
        F.when(k % 2 == 0, F.lit('"yes"@en')).otherwise(F.lit('"non"@fr')),
    )
    nkids = q("nkids", (k % 5).cast("string"))
    band = q(
        "band",
        F.concat(
            F.lit('"'),
            (k % 4).cast("string"),
            F.lit('"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ),
    )
    return flag.unionByName(nkids).unionByName(band)


def sparql_literal_terms_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_select(
        _literal_terms_quads(spark, sf_dir), GATE_LITERAL_TERMS
    )


def sparql_literal_terms_sql() -> str:
    # closed form: even custkey (flag "yes"@en), custkey%5=3 (nkids 3),
    # custkey%4 in (0,2) — even already implied — band re-rendered as
    # the raw typed lexeme
    return """
      SELECT 'cust:' || c_custkey AS c,
             '"' || CAST(c_custkey % 4 AS VARCHAR)
                 || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS band
      FROM customer
      WHERE c_custkey % 2 = 0 AND c_custkey % 5 = 3
        AND c_custkey % 4 IN (0, 2)
    """


# ---------------------------------------------------------------------------
# CONSTRUCT WHERE shorthand gate (spec §16.2.3): template == pattern —
# the result mirrors the matched subgraph (both triples of each
# two-hop solution, set semantics). The engine's GRAPH-in-template
# extension carries the matched graph through.
# ---------------------------------------------------------------------------

GATE_CONSTRUCT_WHERE = """
  CONSTRUCT WHERE {
    GRAPH <graph://tpch> {
      ?cust <in_nation> ?nation .
      ?nation <in_region> ?region
    }
  }
"""


def sparql_construct_where_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_construct(tpch_quads(spark, sf_dir), GATE_CONSTRUCT_WHERE)


def sparql_construct_where_sql() -> str:
    # the mirrored subgraph: every customer's in_nation triple plus the
    # in_region triple of every nation that has a customer (UNION
    # dedups; predicates are disjoint across branches)
    return """
      SELECT 'cust:' || c_custkey AS s, 'in_nation' AS p,
             'nation:' || c_nationkey AS o, 'graph://tpch' AS g
      FROM customer
      UNION
      SELECT 'nation:' || n_nationkey, 'in_region',
             'region:' || n_regionkey, 'graph://tpch'
      FROM nation
      WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
    """


# the nondeterministic-generator family (§17.4.2.9 BNODE / §17.4.2.3
# UUID / §17.4.2.4 STRUUID / NOW §17.4.5.1) under the deterministic
# mint contract (class ENdet) — the twin reproduces every md5 exactly;
# RAND() is the one family member with no SQL twin (its hex->double
# conv has no DuckDB counterpart) and is unit-tested instead. NOW is
# pinned via RIFY_SPARQL_NOW inside the gate callable so both engines
# see one fixed instant.
GATE_NDET = """
  SELECT ?n (BNODE(?n) AS ?sk) (UUID() AS ?u) (STRUUID() AS ?su)
         (YEAR(NOW()) AS ?y)
  WHERE { GRAPH <graph://tpch> { ?n <in_region> ?r } }
"""

_GATE_NOW = "2026-01-01T00:00:00Z"


def sparql_ndet_gate(spark, sf_dir: str) -> DataFrame:
    import os

    from .ops.quads import tpch_quads

    saved = os.environ.get("RIFY_SPARQL_NOW")
    os.environ["RIFY_SPARQL_NOW"] = _GATE_NOW
    try:
        return sparql_select(tpch_quads(spark, sf_dir), GATE_NDET)
    finally:
        if saved is None:
            del os.environ["RIFY_SPARQL_NOW"]
        else:
            os.environ["RIFY_SPARQL_NOW"] = saved


def sparql_ndet_sql() -> str:
    # UUID is call-site 2 and STRUUID site 3 (BNODE consumed site 1).
    # SELECT-expression targets bind SEQUENTIALLY, so each generator's
    # bindings basis (sorted-variable order) includes the EARLIER
    # minted columns: UUID over (?n, ?r, ?sk), STRUUID over
    # (?n, ?r, ?sk, ?u) — the twin chains the same md5s. BNODE's basis
    # is the argument alone (§17.4.2.9 skolemization).
    return """
      WITH sol AS (
        SELECT 'nation:' || n_nationkey AS n,
               'region:' || n_regionkey AS r
        FROM nation
      ), b AS (
        SELECT n, r, '_:' || md5('BNODE' || chr(31) || n) AS sk
        FROM sol
      ), u AS (
        SELECT n, r, sk,
               md5('UUID#2' || chr(31) || n || chr(31) || r
                   || chr(31) || sk) AS hu
        FROM b
      ), uu AS (
        SELECT n, r, sk,
               'urn:uuid:' || substr(hu, 1, 8) || '-' || substr(hu, 9, 4)
                 || '-' || substr(hu, 13, 4) || '-' || substr(hu, 17, 4)
                 || '-' || substr(hu, 21, 12) AS u
        FROM u
      ), s AS (
        SELECT n, sk, u,
               md5('STRUUID#3' || chr(31) || n || chr(31) || r
                   || chr(31) || sk || chr(31) || u) AS hs
        FROM uu
      )
      SELECT n, sk, u,
             substr(hs, 1, 8) || '-' || substr(hs, 9, 4) || '-'
               || substr(hs, 13, 4) || '-' || substr(hs, 17, 4) || '-'
               || substr(hs, 21, 12) AS su,
             '2026' AS y
      FROM s
    """


# CBD DESCRIBE gate: a bnode-chain store — customer -> _:addr -> _:geo
# -> literal fields, three hops of blank-node closure — described from
# the region-0 customers' WHERE bindings; the oracle unrolls the fixed
# chain depth in closed form.
GATE_DESCRIBE_CBD = """
  DESCRIBE ?c WHERE {
    ?c <in_nation> ?n . ?n <in_region> <region:0>
  }
"""


def _cbd_store(spark, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir.rstrip('/')}/customer.parquet")
    c = F.concat(F.lit("cust:"), F.col("c_custkey"))
    nation = spark.read.parquet(f"{sf_dir.rstrip('/')}/nation.parquet")
    dg = F.lit(DEFAULT_GRAPH)
    return (
        cust.select(
            c.alias("s"), F.lit("in_nation").alias("p"),
            F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("o"),
            dg.alias("g"),
        )
        .unionByName(nation.select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
            F.lit("in_region").alias("p"),
            F.concat(F.lit("region:"), F.col("n_regionkey")).alias("o"),
            dg.alias("g"),
        ))
        .unionByName(cust.select(
            c.alias("s"), F.lit("address").alias("p"),
            F.concat(F.lit("_:addr"), F.col("c_custkey")).alias("o"),
            dg.alias("g"),
        ))
        .unionByName(cust.select(
            F.concat(F.lit("_:addr"), F.col("c_custkey")).alias("s"),
            F.lit("city").alias("p"),
            F.concat(F.lit("city:"), F.col("c_custkey") % 10).alias("o"),
            dg.alias("g"),
        ))
        .unionByName(cust.select(
            F.concat(F.lit("_:addr"), F.col("c_custkey")).alias("s"),
            F.lit("geo").alias("p"),
            F.concat(F.lit("_:geo"), F.col("c_custkey")).alias("o"),
            dg.alias("g"),
        ))
        .unionByName(cust.select(
            F.concat(F.lit("_:geo"), F.col("c_custkey")).alias("s"),
            F.lit("lat").alias("p"),
            F.concat(F.lit("lat:"), F.col("c_custkey") % 90).alias("o"),
            dg.alias("g"),
        ))
    )


def sparql_describe_cbd_gate(spark, sf_dir: str) -> DataFrame:
    return sparql_describe(
        _cbd_store(spark, sf_dir), GATE_DESCRIBE_CBD, cbd=True
    )


def sparql_describe_cbd_sql() -> str:
    return """
      WITH r0 AS (
        SELECT 'cust:' || c_custkey AS r, c_custkey AS k
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_regionkey = 0
      )
      SELECT r AS s, 'in_nation' AS p,
             'nation:' || c_nationkey AS o, 'default_graph' AS g
      FROM r0 JOIN customer ON r = 'cust:' || c_custkey
      UNION ALL
      SELECT r, 'address', '_:addr' || k, 'default_graph' FROM r0
      UNION ALL
      SELECT '_:addr' || k, 'city', 'city:' || (k % 10), 'default_graph'
      FROM r0
      UNION ALL
      SELECT '_:addr' || k, 'geo', '_:geo' || k, 'default_graph' FROM r0
      UNION ALL
      SELECT '_:geo' || k, 'lat', 'lat:' || (k % 90), 'default_graph'
      FROM r0
    """


# SERVICE (local federation) gate: the tpch quad store joins through a
# SERVICE registry entry holding a SEPARATE region-directory store —
# compatible-mappings join across two datasets, remote default-graph
# scoping exercised by the directory's named-graph decoys.
GATE_SERVICE = """
  SELECT ?c ?n ?rname WHERE {
    GRAPH <graph://tpch> { ?c <in_nation> ?n }
    SERVICE <svc://regions> {
      ?n <in_region> ?r . ?r <region_name> ?rname
    }
  }
"""


def _region_directory(spark, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir.rstrip('/')}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir.rstrip('/')}/region.parquet")
    dg = F.lit(DEFAULT_GRAPH)
    return (
        nation.select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
            F.lit("in_region").alias("p"),
            F.concat(F.lit("region:"), F.col("n_regionkey")).alias("o"),
            dg.alias("g"),
        )
        .unionByName(region.select(
            F.concat(F.lit("region:"), F.col("r_regionkey")).alias("s"),
            F.lit("region_name").alias("p"),
            F.concat(F.lit("name:"), F.col("r_name")).alias("o"),
            dg.alias("g"),
        ))
        .unionByName(region.select(
            F.concat(F.lit("region:"), F.col("r_regionkey")).alias("s"),
            F.lit("region_name").alias("p"),
            F.lit("name:DECOY").alias("o"),
            F.lit("graph://decoy").alias("g"),
        ))
    )


def sparql_service_gate(spark, sf_dir: str) -> DataFrame:
    from .ops.quads import tpch_quads

    return sparql_select(
        tpch_quads(spark, sf_dir),
        GATE_SERVICE,
        services={"svc://regions": _region_directory(spark, sf_dir)},
    )


def sparql_service_sql() -> str:
    return """
      SELECT 'cust:' || c_custkey AS c,
             'nation:' || c_nationkey AS n,
             'name:' || r_name AS rname
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    """
