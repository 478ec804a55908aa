"""Mini-Cypher front end: the reference's query surface, executed natively.

The reference never parses Cypher — it ships opaque strings to Neo4j
(`Neo4jFormatBase.java:48,60`). For a user to switch engines without
rewriting queries, this module parses and executes the exact Cypher shapes
the reference exercises (README + tests, SURVEY.md §2.B):

- ``MATCH (n:Label) RETURN id(n), n.prop, ...``             (B1/B3, README.md:20)
- ``MATCH (a:L)-[e]->(b:L) RETURN id(e), id(a), id(b), e.p`` (B2, InTest:46)
- ``... WHERE n.p = x OR n.p = y`` (equality/comparison, AND/OR — B4)
- ``UNWIND $rows AS i CREATE (n:Label {k: i.k, ...})``       (B6, README.md:45)
- ``UNWIND $rows AS u MATCH (p) WHERE p.k = u.k SET p.a = u.a, ...`` (B7/B8)
- multi-pattern ``CREATE (v:L {..literals..}), (v1)-[:T {..}]->(v2)``
  — the test-fixture construction shape (B9, FmtTest:14-19)
- read-side extensions beyond the reference's surface: ``RETURN n``
  (whole node/relationship as a struct column), general ``NOT <cond>``
  (three-valued), ``RETURN DISTINCT``,
  aggregations (``count(*)``, ``count/sum/avg/min/max(n.prop)`` with
  implicit grouping on the non-aggregated items, Cypher-style),
  ``ORDER BY <alias> [ASC|DESC], ... [SKIP n] [LIMIT m]`` — translated to
  groupBy/agg, distinct, Offset, and TakeOrderedAndProject respectively;
  ``OPTIONAL MATCH`` (one edge hop off a bound variable -> left equi-join,
  optional-side WHERE applied pre-join), relationship-property ``WHERE``
  (``e.p > x``), incoming patterns ``(a)<-[e]-(b)`` (parse-time endpoint
  swap — works in every clause that accepts a pattern), undirected
  patterns ``(a)-[e]-(b)`` (union of both orientations, self-loops
  matched once; single-hop MATCH/chains and pattern predicates),
  ``ORDER BY n.prop`` / ``ORDER BY count(*)`` (sort by a projected
  expression), and variable-length paths: bounded ``-[:T*lo..hi]->``
  (union of fixed-length edge-join chains with relationship-isomorphism
  filters, capped at ``MAX_VAR_HOPS``) and UNBOUNDED ``-[:T*]->`` /
  ``*lo..`` / ``*..hi`` (iterative frontier expansion carrying per-path
  edge-id arrays — drain-or-raise under ``VAR_UNBOUNDED_MAX_ROUNDS`` /
  ``VAR_UNBOUNDED_MAX_FRONTIER``);
  ``WITH`` pipeline stages (openCypher clause order ``WITH items
  [ORDER BY/LIMIT] [WHERE]``, chainable) — projection aliases re-scope the
  row, so HAVING-style filters on aggregates, top-k-then-continue, and
  aggregate-of-aggregate pipelines all execute as ordinary Catalyst
  projection/agg stages; pattern variables end at the WITH horizon

Reads translate to the PropertyGraph scan/expand surface (Catalyst plans
them: label filters push down, endpoint joins broadcast). Writes translate
to ``create_nodes`` / ``update_nodes`` / ``from_rows`` semantics and return
a NEW PropertyGraph (graphs are immutable values here).

  multi-clause ``MATCH ... MATCH ...`` chains unify on shared node
  variables (name-based joins; clauses sharing no variable are rejected
  rather than silently cross-joined). Single-pattern chains
  ``(a)-[e1]->(b)-[e2]->(c)`` and comma-separated parts ``MATCH (a)-[]->(b),
  (b)-[]->(c)`` desugar to the same machinery, with openCypher's
  relationship isomorphism (pairwise-distinct edges) enforced WITHIN each
  MATCH clause. Inline property maps ``(n:L {k: v})`` / ``-[e:T {k: v}]->``
  desugar to WHERE equality conjuncts in every read clause (incl. the
  OPTIONAL MATCH optional side). Bare boolean references are predicates
  (``WHERE n.trust``, ``WHERE NOT n.flag``) with three-valued semantics.

This is intentionally a SUBSET: whole path VALUES (beyond the
length/nodes/relationships accessors) are served by the native DataFrame
surface. Unsupported syntax raises
``CypherSyntaxError`` with the offending token, never a silent wrong
answer. Like openCypher, MERGE/DETACH/DELETE (any case) are reserved
words — a property or label spelled `delete` is rejected rather than
parsed ambiguously.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field, fields, is_dataclass
from dataclasses import replace as dc_replace
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_neo4j_spark.graph import (
    EDGE_STRUCTURAL,
    EXTRA_LABELS,
    STRUCTURAL,
    VERTEX_STRUCTURAL,
    PropertyGraph,
    assign_where,
    label_cond,
    local_frame,
    prefixed,
    rel_type_cond,
)

__all__ = ["CypherSyntaxError", "cypher_read", "cypher_write", "cypher_create_graph"]


class CypherSyntaxError(ValueError):
    pass


# -- tokenizer -------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<arrow><-\[|-\[|\]->|\]-)
  | (?P<number>-?\d+\.\d+|-?\d+)
  | (?P<op><>|<=|>=|=~|=|<|>|\+|-|/|%|\^)
  | (?P<punct>[(){}:,.\$*\[\]|])
  | (?P<string>'(?:[^'\\]|\\.)*')
  | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
""",
    re.VERBOSE,
)

_KEYWORDS = {"MATCH", "RETURN", "WHERE", "UNWIND", "AS", "CREATE", "SET", "AND", "OR",
             "TRUE", "FALSE", "NULL", "ID", "WITH", "MERGE", "DETACH", "DELETE",
             "REMOVE"}


@dataclass
class _Tok:
    kind: str  # 'kw', 'word', 'op', 'punct', 'arrow', 'string', 'number'
    text: str


def _tokenize(query: str) -> list[_Tok]:
    out: list[_Tok] = []
    pos = 0
    while pos < len(query):
        m = _TOKEN_RE.match(query, pos)
        if not m:
            raise CypherSyntaxError(f"cannot tokenize at: {query[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "word" and text.upper() in _KEYWORDS:
            out.append(_Tok("kw", text.upper()))
        else:
            out.append(_Tok(kind, text))
    return out


# -- AST -------------------------------------------------------------------


@dataclass
class NodePat:
    var: str | None
    label: str | None
    props: dict[str, Any] = field(default_factory=dict)  # literal or (param_var, key)


@dataclass
class EdgePat:
    var: str | None
    rel_type: str | None
    src: NodePat
    dst: NodePat
    props: dict[str, Any] = field(default_factory=dict)
    #: variable-length spec (lo, hi) from ``-[:T*lo..hi]->``; None = single hop
    hops: tuple[int, int] | None = None
    #: ``(a)-[e]-(b)``: match the edge in either orientation. Incoming
    #: patterns ``(a)<-[e]-(b)`` never reach the AST — the parser swaps the
    #: endpoints into the equivalent outgoing form.
    undirected: bool = False
    #: named-path variable of a variable-length pattern (``MATCH p =
    #: (a)-[*]->(b)``), which ``length(p)``/``nodes(p)``/``relationships(p)``
    #: read
    path: str | None = None


@dataclass
class PropRef:
    var: str
    prop: str | None  # None => id(var)


@dataclass
class BareRef:
    """A bare projected-column reference, legal only AFTER a ``WITH`` stage
    (where the row is no longer pattern variables but named scalars)."""

    name: str


@dataclass
class Cond:
    left: PropRef
    op: str
    right: Any  # literal or PropRef
    #: ``NOT <cond>`` — compiled as Spark's ``~``, which preserves
    #: openCypher's three-valued logic (NOT null is null)
    negated: bool = False


@dataclass
class PatternCond:
    """A pattern predicate in WHERE: ``[NOT] (v)-[:TYPE]->(()|(:Label))`` —
    Cypher's existential subquery shorthand. Compiles to a semi-join
    (positive) or anti-join (NOT) against the edge endpoints."""

    var: str
    rel_type: str | None
    dst_label: str | None
    negated: bool
    #: which endpoint ``var`` occupies: "out" ``(v)-[]->()``, "in"
    #: ``(v)<-[]-()``, or "undirected" ``(v)-[]-()``
    direction: str = "out"
    #: block forms only (``EXISTS { }`` / ``COUNT { }``): an edge/far-node
    #: variable binding plus an inner WHERE over them. The shorthand
    #: ``(v)-[:T]->()`` never sets these, so its semi-join fast path is
    #: untouched.
    edge_var: str | None = None
    dst_var: str | None = None
    pred: Any = None


@dataclass
class Star:
    """``RETURN *`` — expanded to one whole-variable item per in-scope
    pattern variable (or per projected name after a WITH horizon) in
    sorted order, before projection."""


@dataclass
class WholeVar:
    """``RETURN n`` — a whole pattern variable as a RETURN/WITH item.
    Projects the entity as ONE struct column (id + label + properties for
    nodes; id + src + dst + rel_type + properties for relationships),
    the tabular analogue of Neo4j returning the node/relationship
    object."""

    var: str


@dataclass
class FieldAccess:
    """Postfix ``.name`` on a computed expression — ``date(s).year``,
    ``duration.between(a, b).days``, nested struct access ``m.a.b``.
    Dispatches at compile time on the base dtype: temporal component on
    date/timestamp, struct field (missing → null, the map-access
    contract) on structs; anything else raises."""

    base: Any
    name: str


@dataclass
class ListExpr:
    """A list constructor with expression elements — ``[n.name, 'x']`` —
    compiled to one JVM ``array()``. Pure-literal lists stay plain Python
    lists (the UNWIND/IN machinery consumes those directly)."""

    items: tuple


@dataclass
class MapProj:
    """``n {.name, .born}`` / ``n {.*}`` — a Cypher map projection as a
    RETURN/WITH item: the selected properties of a pattern variable (or a
    whole variable carried through WITH) as one struct column. ``.*``
    selects every property (meta fields excluded). A projected property
    no write ever created reads null, like any other property access."""

    var: str
    props: tuple  # property names, or ("*",) for .*
    #: computed entries ``{.name, yr: n.born + 1}`` — (key, expr) pairs
    #: evaluated in the enclosing scope (Neo4j's map-projection extras)
    extras: tuple = ()


@dataclass
class CaseExpr:
    """``CASE WHEN <pred> THEN <expr> [...] [ELSE <expr>] END`` in a
    RETURN/WITH item (the simple form ``CASE x WHEN v THEN ...`` is
    desugared to equality predicates at parse time). Compiles to a
    chained ``F.when``; an unmatched row without ELSE is null, as in
    Cypher."""

    whens: tuple  # ((disj, result_expr), ...)
    default: Any = None


@dataclass
class FuncCall:
    """A scalar function in RETURN/WITH: the openCypher string functions
    (``toLower``/``toUpper``/``trim``), the graph-model accessors
    (``labels``/``type`` — parsed into rewritten property refs on the
    label/rel_type columns; ``keys``/``properties`` — whole-variable
    accessors over the clause's var_props annotation), ``size``, and
    variadic ``coalesce`` (further
    operands, refs or literals, in ``extra``)."""

    fn: str
    arg: "PropRef | BareRef | Any"
    extra: tuple = ()


@dataclass
class AggCall:
    fn: str  # COUNT / SUM / AVG / MIN / MAX / COLLECT / STDEV(P) / PERCENTILE*
    arg: PropRef | None  # None => count(*) or count(var)
    distinct: bool = False  # count(DISTINCT x) / collect(DISTINCT x) / ...
    #: extra literal arguments (the percentile for percentileCont/Disc)
    extra: tuple = ()


@dataclass
class BinOp:
    """Arithmetic in RETURN/WITH: ``n.a + n.b``, ``s / c`` over WITH
    columns, ``n.price * 2``. Operands are refs, literals, scalar function
    calls, or nested BinOps — never aggregates (compute those in a WITH
    stage first; the parser rejects the mix, keeping implicit-grouping
    analysis trivially correct)."""

    op: str  # + - * / %
    left: Any
    right: Any


@dataclass
class ListComp:
    """List comprehension ``[x IN <list> [WHERE <pred>] [| <expr>]]`` —
    compiled to Spark's higher-order ``filter``/``transform`` (JVM
    lambdas, zero Python). ``pred`` is a parse_where disjunction over the
    loop variable (bare) and outer scope; ``expr`` None = identity."""

    var: str
    source: Any
    pred: Any = None
    expr: Any = None


@dataclass
class CountPattern:
    """``COUNT { (v)-[:T]->(:L) }`` — Neo4j 5's count subquery (the
    per-row degree idiom). Bound pre-projection as ONE left-joined
    partial-aggregated edge count per distinct subquery (never a per-match
    row explosion); reuses the pattern-predicate AST."""

    pattern: "PatternCond"


@dataclass
class PatternComp:
    """``[(v)-[e:T]->(m[:L]) [WHERE cond] | expr]`` — Cypher pattern
    comprehension: the inline one-to-many projection idiom (per-row list
    of values off the adjacent matches). Bound pre-projection as ONE
    left-joined per-node collected list over the matched edges — the
    outer frame never row-multiplies — with no-match rows reading ``[]``
    per Cypher. The list is value-sorted (nulls kept, like Neo4j's
    pattern comprehension and unlike collect()) so the result is a
    layout-independent VALUE; Neo4j leaves the order unspecified, so the
    sorted list is a valid member of its semantics. The inner scope is
    the pattern's own variables only (edge + far endpoint) — outer
    references raise, like COUNT { }."""

    var: str
    edge_var: str | None
    rel_type: str | None
    #: "out" ``(v)-[]->(m)``, "in" ``(v)<-[]-(m)``, or "undirected"
    direction: str
    dst_var: str | None
    dst_label: str | None
    pred: Any  # parsed WHERE disjunction over the inner scope, or None
    expr: Any  # the mapped projection (required: ``| expr``)


@dataclass
class MapLit:
    """``{name: n.name, age: n.born + 1}`` — a literal map in expression
    position (Neo4j's inline record-construction idiom). Compiled to ONE
    ``struct()`` with the keys as field names — the same modeling as
    whole-variable and map-projection results (Cypher maps are
    heterogeneous; Spark's map type is not), zero shuffle."""

    entries: tuple  # ((key, expr), ...)


@dataclass
class RawCol:
    """Internal marker: a projection expression already bound to a real
    column of the working frame (pattern-count joins); resolves as a bare
    F.col, bypassing the scope colmap."""

    name: str


@dataclass
class ReduceExpr:
    """``reduce(acc = init, x IN list | expr)`` — Cypher's list fold,
    compiled to Spark's higher-order ``aggregate`` (JVM lambda, zero
    Python). The init expression doubles as the accumulator's type-probe
    twin for size() dispatch inside the lambda."""

    acc: str
    init: Any
    var: str
    source: Any
    expr: Any


@dataclass
class IsNullExpr:
    """``expr IS [NOT] NULL`` in expression position (RETURN/WITH items) —
    the null-flag projection idiom. WHERE keeps its own Cond path (which
    pushes the predicate into the scan); this node only exists where the
    result is a projected boolean VALUE."""

    arg: Any
    negated: bool


@dataclass
class IndexExpr:
    """``list[i]`` — Cypher 0-based element access; negative indices count
    from the end; out-of-range reads null (try_element_at)."""

    base: Any
    index: Any


@dataclass
class SliceExpr:
    """``list[from..to]`` — Cypher half-open 0-based slice; either bound
    optional, negative bounds count from the end, out-of-range clamps."""

    base: Any
    lo: Any  # None = 0
    hi: Any  # None = size


@dataclass
class ReturnItem:
    expr: PropRef | AggCall
    alias: str | None


#: aggregate function names recognized contextually (NOT keywords, so a
#: property may still be named `count`)
_AGG_FNS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "COLLECT", "STDEV",
            "STDEVP", "PERCENTILECONT", "PERCENTILEDISC"}

#: openCypher scalar functions: name -> (min_args, max_args); recognized
#: contextually (word followed by "("), translated in _scalar_fn_column.
#: max_args None = variadic.
_FN_ARITY = {
    "toLower": (1, 1), "toUpper": (1, 1), "trim": (1, 1), "ltrim": (1, 1),
    "rtrim": (1, 1), "reverse": (1, 1), "toInteger": (1, 1),
    "toFloat": (1, 1), "toString": (1, 1), "toBoolean": (1, 1),
    "abs": (1, 1), "sign": (1, 1), "sqrt": (1, 1), "exp": (1, 1),
    "log": (1, 1), "log10": (1, 1), "sin": (1, 1), "cos": (1, 1),
    "tan": (1, 1), "asin": (1, 1), "acos": (1, 1), "atan": (1, 1),
    "atan2": (2, 2), "degrees": (1, 1), "radians": (1, 1),
    "pi": (0, 0), "e": (0, 0), "isEmpty": (1, 1),
    "ceil": (1, 1), "floor": (1, 1), "round": (1, 2), "head": (1, 1),
    "last": (1, 1), "size": (1, 1), "left": (2, 2), "right": (2, 2),
    "split": (2, 2), "substring": (2, 3), "replace": (3, 3),
    "coalesce": (1, None), "range": (2, 3), "tail": (1, 1),
    # temporal constructors: a NO-argument date()/datetime() is "now" in
    # Neo4j — nondeterministic, rejected by the min-arity (determinism is
    # the engine contract); pass the clock in as a parameter instead
    "date": (1, 1), "datetime": (1, 1),
    # spatial constructor: point({x, y}) / point({longitude, latitude})
    "point": (1, 1),
}

#: hard ceiling on BOUNDED variable-length path expansion: each extra hop
#: is one more edge join in the unioned plan, and path counts can grow
#: combinatorially — the bound keeps the operator cluster-safe by
#: construction (raise consciously, not by data surprise). Unbounded forms
#: (``*`` / ``*lo..``) take the iterative frontier path instead, governed
#: by the two guards below.
MAX_VAR_HOPS = 6

#: unbounded expansion guards: relationship isomorphism terminates every
#: path at ≤|E| hops mathematically, but a graph whose paths outlive the
#: round ceiling (or whose per-round partial-path frontier outgrows the
#: row cap) raises LOUDLY instead of grinding toward an OOM — the same
#: drain-or-raise contract as the SCC peel and the Brandes BFS. Both are
#: module-level so a test (or an operator that knows its graph) can widen
#: them consciously.
VAR_UNBOUNDED_MAX_ROUNDS = 32
VAR_UNBOUNDED_MAX_FRONTIER = 50_000_000

#: iter_kernel row target for path-expansion states (guide §2.2's ~100 MB
#: per partition): path rows carry node/edge-id ARRAYS (≤ rounds longs
#: each), ~10× the bytes of the narrow per-vertex states the default
#: ITER_ROWS_PER_PARTITION assumes.
PATH_STATE_ROWS_PER_PARTITION = 200_000

#: ``nodes(p)``/``relationships(p)`` over allShortestPaths enumerate the
#: tied paths per pair — bounded state (≤ cap+1 paths per settled pair,
#: the σ-count already proves the multiplicity); a pair whose tie count
#: exceeds the cap raises at execution (σ is monotone along the BFS DAG,
#: so any capped intermediate implies the output pair's own count also
#: exceeds the cap — the raise can never miss a silent undercount).
ALL_PATHS_TIE_CAP = 8


# -- parser ----------------------------------------------------------------


class _Parser:
    def __init__(
        self, tokens: list[_Tok], params: dict[str, Any] | None = None
    ):
        self.toks = tokens
        self.i = 0
        #: query parameters ($name) — resolved to their literal values at
        #: parse time, so a parameterized query plans exactly like its
        #: literal twin and values can never act as syntax (no injection)
        self.params = params
        #: aggregates are illegal in predicate position (WHERE) but legal
        #: inside CASE WHEN conditions of a PROJECTION item (``RETURN CASE
        #: WHEN count(*) > 2 THEN …``) — the CASE parser flips this around
        #: its condition parse; _parse_single_cond consults it
        self._agg_ok = False

    def peek(self, k: int = 0) -> _Tok | None:
        return self.toks[self.i + k] if self.i + k < len(self.toks) else None

    def next(self) -> _Tok:
        tok = self.peek()
        if tok is None:
            raise CypherSyntaxError("unexpected end of query")
        self.i += 1
        return tok

    def expect(self, kind: str, text: str | None = None) -> _Tok:
        tok = self.next()
        if tok.kind != kind or (text is not None and tok.text != text):
            raise CypherSyntaxError(f"expected {text or kind}, got {tok.text!r}")
        return tok

    def at(self, kind: str, text: str | None = None) -> bool:
        tok = self.peek()
        return tok is not None and tok.kind == kind and (text is None or tok.text == text)

    def expect_end(self) -> None:
        """Reject trailing tokens. Every cypher_write form must call this
        before executing: a clause the grammar does not support (e.g. a SET
        after a relationship MERGE) must be a loud syntax error, never a
        silently-dropped write."""
        tok = self.peek()
        if tok is not None:
            raise CypherSyntaxError(
                f"unsupported trailing clause at {tok.text!r}"
            )

    # values ----------------------------------------------------------------

    def parse_value(self, unwind_var: str | None):
        tok = self.next()
        if tok.kind == "punct" and tok.text == "$":
            name = self.expect("word").text
            if self.params is None or name not in self.params:
                raise CypherSyntaxError(f"missing parameter ${name}")
            return self.params[name]
        if tok.kind == "string":
            return tok.text[1:-1].replace("\\'", "'")
        if tok.kind == "number":
            return float(tok.text) if "." in tok.text else int(tok.text)
        if tok.kind == "kw" and tok.text in ("TRUE", "FALSE"):
            return tok.text == "TRUE"
        if tok.kind == "kw" and tok.text == "NULL":
            return None
        if tok.kind == "word" and unwind_var and tok.text == unwind_var:
            self.expect("punct", ".")
            key = self.expect("word").text
            return ("__param__", key)
        if tok.kind == "punct" and tok.text == "{":
            # literal map value {k: <literal>, ...} — the inline-batch
            # idiom ``UNWIND [{a: 1}, {a: 2}] AS row`` (same dict shape
            # as a $param row)
            out: dict[str, Any] = {}
            if not self.at("punct", "}"):
                while True:
                    k = self.expect("word").text
                    self.expect("punct", ":")
                    out[k] = self.parse_value(unwind_var)
                    if self.at("punct", ","):
                        self.next()
                        continue
                    break
            self.expect("punct", "}")
            return out
        raise CypherSyntaxError(f"unsupported value: {tok.text!r}")

    def parse_props(self, unwind_var: str | None) -> dict[str, Any]:
        props: dict[str, Any] = {}
        if not self.at("punct", "{"):
            return props
        self.next()
        while True:
            key = self.expect("word").text
            self.expect("punct", ":")
            props[key] = self.parse_value(unwind_var)
            if self.at("punct", ","):
                self.next()
                continue
            self.expect("punct", "}")
            return props

    # patterns --------------------------------------------------------------

    def parse_node(self, unwind_var: str | None = None) -> NodePat:
        self.expect("punct", "(")
        var = label = None
        if self.at("word"):
            var = self.next().text
        if self.at("punct", ":"):
            self.next()
            label = self.expect("word").text
        props = self.parse_props(unwind_var)
        self.expect("punct", ")")
        return NodePat(var, label, props)

    def parse_hops(self) -> tuple[int, int | None] | None:
        """Variable-length spec after the relationship type — the full
        Neo4j surface: ``*`` (1..∞), ``*n``, ``*lo..hi``, ``*lo..``
        (lo..∞), ``*..hi`` (1..hi). Unbounded forms return ``hi=None``
        and compile to the iterative frontier expansion (drain-or-raise —
        see ``_varlength_paths_unbounded``); bounded forms keep the
        union-of-chains plan and the MAX_VAR_HOPS ceiling."""
        if not self.at("punct", "*"):
            return None
        self.next()
        lo = 1
        if self.at("number"):
            lo = int(self.expect("number").text)
            if not self.at("punct", "."):
                return self._check_hops(lo, lo)
        elif not self.at("punct", "."):
            return (1, None)  # bare '*'
        self.expect("punct", ".")
        self.expect("punct", ".")
        if not self.at("number"):
            return self._check_hops(lo, None)  # '*lo..' / '*..'
        hi = int(self.expect("number").text)
        return self._check_hops(lo, hi)

    def _check_hops(self, lo: int, hi: int | None) -> tuple[int, int | None]:
        # lo=0 is legal Cypher: the ZERO-LENGTH path, where both pattern
        # endpoints bind the SAME node (labels of both sides apply) and
        # the rel type is ignored — nodes(p)=[n], relationships(p)=[]
        if lo < 0 or (hi is not None and hi < lo):
            raise CypherSyntaxError(
                f"invalid variable-length bounds *{lo}..{hi}"
            )
        if hi is not None and hi > MAX_VAR_HOPS:
            raise CypherSyntaxError(
                f"variable-length upper bound {hi} exceeds MAX_VAR_HOPS="
                f"{MAX_VAR_HOPS}; drop the bound (*{lo}..) for the "
                "iterative drain-or-raise expansion"
            )
        return (lo, hi)

    def parse_pattern(
        self,
        unwind_var: str | None = None,
    ) -> NodePat | EdgePat:
        src = self.parse_node(unwind_var)
        if not (self.at("arrow", "-[") or self.at("arrow", "<-[")):
            return src
        pat, _ = self._parse_one_hop(src, unwind_var)
        return pat

    def _parse_rel_type_alts(self) -> str | tuple[str, ...]:
        """``:T`` or Cypher's multi-type alternation ``:A|B|C`` — a single
        name stays a plain string (the write paths require one type); the
        alternation form returns a dedup'd tuple and compiles to ONE
        ``isin`` filter on the edge scan."""
        first = self.expect("word").text
        alts = [first]
        while self.at("punct", "|"):
            self.next()
            alts.append(self.expect("word").text)
        uniq = tuple(dict.fromkeys(alts))
        return uniq[0] if len(uniq) == 1 else uniq

    def parse_pattern_seq(
        self, unwind_var: str | None = None
    ) -> list[NodePat | EdgePat]:
        """Comma-separated pattern parts, each a possibly multi-hop chain:
        ``(a)-[e1]->(b)-[e2]->(c), (b)-[:T]-(d)``. Returned as a flat list
        of single-hop patterns — chain continuation REUSES the shared
        NodePat object, so the multi-clause unification machinery joins the
        segments on its variable name exactly like ``MATCH ... MATCH ...``
        (anonymous continuation nodes get a synthetic variable later)."""
        out: list[NodePat | EdgePat] = []
        while True:
            src = self.parse_node(unwind_var)
            if not (self.at("arrow", "-[") or self.at("arrow", "<-[")):
                out.append(src)
            else:
                while self.at("arrow", "-[") or self.at("arrow", "<-["):
                    pat, src = self._parse_one_hop(src, unwind_var)
                    out.append(pat)
            if self.at("punct", ","):
                self.next()
                continue
            return out

    def _parse_one_hop(
        self,
        src: NodePat,
        unwind_var: str | None,
    ) -> tuple[EdgePat, NodePat]:
        """One edge segment continuing from ``src``. Returns the normalized
        (outgoing-form) EdgePat plus the SURFACE destination node — the
        chain continuation point, which after an incoming-arrow swap is the
        pattern's src."""
        incoming = self.at("arrow", "<-[")
        self.next()
        evar = rtype = None
        if self.at("word"):
            evar = self.next().text
        if self.at("punct", ":"):
            self.next()
            rtype = self._parse_rel_type_alts()
        hops = self.parse_hops()
        props = self.parse_props(unwind_var)
        undirected = False
        if incoming:
            # ``(a)<-[e]-(b)``: the only legal close is ``]-`` (a pattern
            # with arrowheads on both ends is invalid Cypher)
            if not self.at("arrow", "]-"):
                raise CypherSyntaxError(
                    "incoming pattern must close with ]- (\"<-[...]-\"); "
                    "\"<-[...]->\" is not a valid pattern"
                )
            self.next()
        elif self.at("arrow", "]->"):
            self.next()
        elif self.at("arrow", "]-"):
            # ``(a)-[e]-(b)``: undirected — match either orientation
            self.next()
            undirected = True
        else:
            raise CypherSyntaxError("expected ]-> or ]- to close the pattern")
        dst = self.parse_node(unwind_var)
        surface_dst = dst
        if incoming:
            # normalize to the outgoing form: (a)<-[e]-(b) == (b)-[e]->(a).
            # Every downstream stage (expand, chains, OPTIONAL MATCH,
            # var-length, shortestPath) keys on variable NAMES, so the swap
            # is semantics-complete and incoming needs no execution support.
            src, dst = dst, src
        if hops is not None and evar is not None:
            raise CypherSyntaxError(
                "variable-length patterns cannot bind a relationship variable"
            )
        # undirected variable-length hops are legal everywhere: both the
        # shortestPath BFS and the general expansion run over both stored
        # orientations of the edge frame (see _both_orientations)
        return EdgePat(evar, rtype, src, dst, props, hops, undirected), surface_dst

    # expressions -----------------------------------------------------------

    def parse_prop_ref(self, allow_bare: bool = False) -> PropRef | BareRef:
        if self.at("kw", "ID"):
            self.next()
            self.expect("punct", "(")
            if (
                self.at("word")
                and self.peek().text in ("startNode", "endNode")
                and self.peek(1) is not None
                and self.peek(1).text == "("
            ):
                # id(startNode(e)) / id(endNode(e)) — the endpoint-id
                # idiom: reads the edge's src/dst column directly (no
                # vertex join). Bare startNode(e) outside id() stays
                # rejected — materializing the full node entity needs
                # the pattern to bind the endpoint instead.
                which = self.next().text
                self.next()
                var = self.expect("word").text
                self.expect("punct", ")")
                self.expect("punct", ")")
                return PropRef(var, "src" if which == "startNode" else "dst")
            var = self.expect("word").text
            self.expect("punct", ")")
            return PropRef(var, None)
        var = self.expect("word").text
        if allow_bare and not self.at("punct", "."):
            return BareRef(var)
        self.expect("punct", ".")
        return PropRef(var, self.expect("word").text)

    def _parse_scalar_arg(self, allow_bare: bool):
        """One scalar-function argument: a full RETURN-expression (refs,
        literals, arithmetic, nested function calls — ``head(split(n.name,
        ' '))``), but never an aggregate."""
        # aggregates ARE legal here in projection position (``round(avg(x),
        # 2)`` — Neo4j's composite aggregate expressions); WHERE/SET/UNWIND
        # positions reject them with a deep _contains_agg check instead.
        return self.parse_return_expr(allow_bare)

    def _at_scalar_fn(self) -> bool:
        tok = self.peek()
        return (
            tok is not None
            and tok.kind == "word"
            and (
                tok.text in _FN_ARITY
                or tok.text in ("labels", "type", "keys", "properties", "length")
            )
            and self.peek(1) is not None
            and self.peek(1).text == "("
        )

    def parse_operand(self, unwind_var: str | None):
        tok = self.peek()
        if tok is None:
            raise CypherSyntaxError("unexpected end of query")
        if unwind_var is None and self._at_scalar_fn():
            # scalar functions as comparison operands (read context only;
            # write templates keep the literal/param contract)
            return self._parse_primary_expr()
        is_ref = (tok.kind == "kw" and tok.text == "ID") or (
            tok.kind == "word"
            and tok.text != unwind_var
            and self.peek(1) is not None
            and self.peek(1).kind == "punct"
            and self.peek(1).text == "."
        )
        if is_ref:
            return self.parse_prop_ref()
        return self.parse_value(unwind_var)

    def parse_where(
        self, unwind_var: str | None = None, allow_bare: bool = False
    ) -> list[list[Cond]]:
        """Boolean WHERE grammar -> disjunctive normal form.

        Precedence (Neo4j): OR < XOR < AND < NOT < factor. Parenthesized
        boolean groups recurse and DISTRIBUTE into the DNF the rest of
        the machinery speaks (``(a OR b) AND c`` -> ``a∧c ∨ b∧c``);
        NOT over a group / XOR applies De Morgan (Kleene 3VL preserves
        both laws, so null propagation is unchanged by the rewrite). The
        DNF size is capped — a pathological nest raises loudly instead
        of exploding."""
        return self._parse_where_or(unwind_var, allow_bare)

    _DNF_CAP = 128

    def _dnf_guard(self, dnf: list[list[Cond]]) -> list[list[Cond]]:
        if len(dnf) > self._DNF_CAP:
            raise CypherSyntaxError(
                "WHERE clause is too complex to normalize (DNF exceeds "
                f"{self._DNF_CAP} branches); simplify the boolean nesting"
            )
        return dnf

    def _parse_where_or(self, unwind_var, allow_bare) -> list[list[Cond]]:
        branches = self._parse_where_xor(unwind_var, allow_bare)
        while self.at("kw", "OR"):
            self.next()
            branches = branches + self._parse_where_xor(unwind_var, allow_bare)
        return self._dnf_guard(branches)

    def _parse_where_xor(self, unwind_var, allow_bare) -> list[list[Cond]]:
        left = self._parse_where_and(unwind_var, allow_bare)
        while self._at_word_ci("XOR"):
            # a XOR b = (A ∧ ¬B) ∨ (¬A ∧ B) over DNFs — left-associative,
            # so chained XOR folds naturally; 3VL survives the identity
            # (null XOR x is null on both forms).
            self.next()
            right = self._parse_where_and(unwind_var, allow_bare)
            ln = self._negate_dnf(left)
            rn = self._negate_dnf(right)
            left = self._dnf_guard(
                [a + b for a in left for b in rn]
                + [a + b for a in ln for b in right]
            )
        return left

    def _parse_where_and(self, unwind_var, allow_bare) -> list[list[Cond]]:
        cur = self._parse_where_factor(unwind_var, allow_bare)
        while self.at("kw", "AND"):
            self.next()
            nxt = self._parse_where_factor(unwind_var, allow_bare)
            # DNF product: (A1 ∨ A2) ∧ (B1 ∨ B2) = ∨ (Ai ∧ Bj)
            cur = self._dnf_guard([a + b for a in cur for b in nxt])
        return cur

    @staticmethod
    def _negate_cond(c: Cond) -> Cond:
        return dc_replace(c, negated=not c.negated)

    def _negate_dnf(self, dnf: list[list[Cond]]) -> list[list[Cond]]:
        """De Morgan over a DNF: ¬(C1 ∨ …) = ∧ ¬Ci; ¬(c1 ∧ c2) = ¬c1 ∨ ¬c2
        — the product re-normalizes to DNF. Valid in Kleene 3VL, so null
        propagation matches Neo4j's NOT."""
        result: list[list[Cond]] = [[]]
        for conj in dnf:
            result = self._dnf_guard(
                [r + [self._negate_cond(c)] for r in result for c in conj]
            )
        return result

    def _parse_where_factor(
        self, unwind_var, allow_bare
    ) -> list[list[Cond]]:
        """One boolean factor as a DNF: NOT factor, a parenthesized
        group, a pattern predicate, an EXISTS form, or a single
        condition. ``(`` is three-way ambiguous — pattern predicate
        ``(n)-[:T]->()``, value grouping ``(n.born + 1) > 1984``, or a
        boolean group ``(a OR b)`` — disambiguated by backtracking in
        that order (token position is the only parser state)."""
        if self._at_word_ci("NOT"):
            save = self.i
            self.next()
            if self.at("punct", "(") or self._at_word_ci("NOT"):
                try:
                    pc = self.parse_pattern_predicate()
                    pc.negated = not pc.negated
                    return [[pc]]
                except CypherSyntaxError:
                    self.i = save
                    self.next()
                # NOT over a single condition that starts with a value
                # paren, or over a boolean group
                try:
                    save2 = self.i
                    conds = self._parse_single_cond(
                        unwind_var, allow_bare, negated=True
                    )
                    return [conds]
                except CypherSyntaxError:
                    self.i = save2
                self.expect("punct", "(")
                grp = self._parse_where_or(unwind_var, allow_bare)
                self.expect("punct", ")")
                return self._negate_dnf(grp)
            if self._at_exists():
                return [[self._parse_exists_cond(allow_bare, negated=True)]]
            return [
                self._parse_single_cond(unwind_var, allow_bare, negated=True)
            ]
        if self.at("punct", "("):
            save = self.i
            try:
                return [[self.parse_pattern_predicate()]]
            except CypherSyntaxError:
                self.i = save
            try:
                return [
                    self._parse_single_cond(
                        unwind_var, allow_bare, negated=False
                    )
                ]
            except CypherSyntaxError:
                self.i = save
            self.expect("punct", "(")
            grp = self._parse_where_or(unwind_var, allow_bare)
            self.expect("punct", ")")
            return grp
        if self._at_exists():
            return [[self._parse_exists_cond(allow_bare, negated=False)]]
        return [self._parse_single_cond(unwind_var, allow_bare, negated=False)]

    def _at_exists(self) -> bool:
        return self._at_word_ci("EXISTS") and (
            self.peek(1) is not None and self.peek(1).text in ("(", "{")
        )

    def _parse_exists_cond(self, allow_bare: bool, negated: bool) -> Cond:
        """exists(n.prop) == n.prop IS NOT NULL (classic Neo4j);
        exists((v)-[:T]->()) == the pattern existential;
        EXISTS { (v)-[:T]->(:L) } == the modern (Neo4j 5)
        existential-subquery block, sugar for the same semi/anti-join
        pattern predicate (an optional leading MATCH keyword inside the
        block is accepted)."""
        self.next()
        if self.at("punct", "{"):
            self.next()
            if self.at("kw", "MATCH"):
                self.next()
            pc = self.parse_pattern_predicate(block=True)
            self.expect("punct", "}")
            if negated:
                pc.negated = not pc.negated
            return pc
        self.expect("punct", "(")
        if self.at("punct", "("):
            pc = self.parse_pattern_predicate()
            self.expect("punct", ")")
            if negated:
                pc.negated = not pc.negated
            return pc
        ref = self.parse_prop_ref(allow_bare)
        self.expect("punct", ")")
        return Cond(ref, "IS NOT NULL", None, negated=negated)

    def _parse_single_cond(
        self, unwind_var, allow_bare: bool, negated: bool
    ) -> list[Cond]:
        """One comparison/predicate condition (chained comparisons may
        expand to several ANDed conds). Returns the conjunct list."""
        out: list[Cond] = []
        if unwind_var is None:
            # read context: a full arithmetic expression may appear on
            # either side of the comparison (``WHERE x % 3 = 0``,
            # ``WHERE y > x * 10`` inside comprehensions). Arithmetic
            # parsing never consumes comparison ops or AND/OR, so the
            # condition structure is unchanged; aggregates stay
            # rejected (filter on a WITH alias instead).
            left = self.parse_return_expr(allow_bare)
        elif self._at_scalar_fn():
            left = self._parse_primary_expr(allow_bare)
        else:
            left = self.parse_prop_ref(allow_bare)
        if self._at_word_ci("IN"):
            self.next()
            if self.at("punct", "$"):
                # IN $param — the parameterized membership idiom
                vals = self.parse_value(unwind_var)
                if not isinstance(vals, list):
                    raise CypherSyntaxError("IN $param requires a list value")
                out.append(Cond(left, "IN", vals))
            elif self.at("punct", "["):
                self.expect("punct", "[")
                vals: list[Any] = []
                if not self.at("punct", "]"):
                    while True:
                        vals.append(self.parse_value(unwind_var))
                        if self.at("punct", ","):
                            self.next()
                            continue
                        break
                self.expect("punct", "]")
                out.append(Cond(left, "IN", vals))
            elif unwind_var is None:
                # IN <expression> — membership in a list-valued
                # expression (``x IN split(s, ',')``, ``y IN n.tags``):
                # compiles to array_contains, 3VL-preserving
                expr = self.parse_return_expr(allow_bare)
                out.append(Cond(left, "IN_EXPR", expr))
            else:
                raise CypherSyntaxError(
                    "IN requires a list literal or $param here"
                )
        elif self._at_word_ci("STARTS") or self._at_word_ci("ENDS"):
            kw = self.next().text.upper()
            self.expect("kw", "WITH")
            out.append(
                Cond(left, f"{kw} WITH", self.parse_value(unwind_var))
            )
        elif self._at_word_ci("CONTAINS"):
            self.next()
            out.append(
                Cond(left, "CONTAINS", self.parse_value(unwind_var))
            )
        elif self._at_word_ci("IS"):
            # n.prop IS [NOT] NULL — Neo4j's missing-property predicate
            # (B5: absent properties read as null)
            self.next()
            if self._at_word_ci("NOT"):
                self.next()
                self.expect("kw", "NULL")
                out.append(Cond(left, "IS NOT NULL", None))
            else:
                self.expect("kw", "NULL")
                out.append(Cond(left, "IS NULL", None))
        elif not self.at("op"):
            # bare boolean reference as a predicate: ``WHERE n.trust``
            # / ``WHERE x = 1 OR NOT n.flag`` — openCypher truthiness.
            # Compiled as ``col = true`` so three-valued logic holds: a
            # null (or missing) property never passes, and NOT of it
            # stays null.
            out.append(Cond(left, "TRUTHY", None))
        else:
            op = self.expect("op").text
            if unwind_var is None:
                right = self.parse_return_expr(allow_bare)
            else:
                right = self.parse_operand(unwind_var)
            if op == "=~" and not isinstance(right, str):
                raise CypherSyntaxError(
                    "=~ requires a string regex literal on the right"
                )
            out.append(Cond(left, op, right))
            # Cypher chained comparisons: a < b <= c desugars to
            # a < b AND b <= c (the shared operand's AST is reused,
            # not re-evaluated differently)
            chain_ops = ("<", "<=", ">", ">=", "=", "<>")
            while (
                unwind_var is None
                and op in chain_ops
                and self.at("op")
                and self.peek().text in chain_ops
            ):
                if negated:
                    raise CypherSyntaxError(
                        "NOT over a chained comparison is ambiguous; "
                        "parenthesize or split with AND"
                    )
                mid = right
                op = self.next().text
                right = self.parse_return_expr(allow_bare)
                out.append(Cond(mid, op, right))
        if negated:
            out[-1] = dc_replace(out[-1], negated=not out[-1].negated)
        # predicate position rejects aggregates WHEREVER they nest
        # (``WHERE sum(x) + 1 > 2``) — Neo4j's "invalid use of aggregating
        # function"; filter on a WITH alias instead. One deep check at the
        # single exit covers every operand branch above (the parser's
        # expression grammar is shared with projection position, where
        # aggregates ARE legal). CASE WHEN conditions inside a projection
        # item set _agg_ok — there the aggregate is over the implicit
        # group, not a per-row filter.
        if not self._agg_ok:
            for cond in out:
                if _contains_agg(cond.left) or _contains_agg(cond.right):
                    raise CypherSyntaxError(
                        "aggregates are not allowed in WHERE; compute the "
                        "aggregate in a WITH stage and filter on its alias"
                    )
        return out

    def _parse_pattern_comp(self) -> PatternComp:
        """Body of a pattern comprehension, after the opening ``[`` (the
        caller's lookahead already saw ``( word )`` + arrow). The far
        endpoint may bind a variable and/or a label; the projection
        ``| expr`` is mandatory (Neo4j grammar)."""
        self.expect("punct", "(")
        var = self.expect("word").text
        self.expect("punct", ")")
        incoming = self.at("arrow", "<-[")
        if incoming:
            self.next()
        else:
            self.expect("arrow", "-[")
        edge_var = None
        if self.at("word"):
            edge_var = self.next().text
        rel_type = None
        if self.at("punct", ":"):
            self.next()
            rel_type = self._parse_rel_type_alts()
        if incoming:
            if not self.at("arrow", "]-"):
                raise CypherSyntaxError(
                    "incoming pattern comprehension must close with ]-"
                )
            self.next()
            direction = "in"
        elif self.at("arrow", "]->"):
            self.next()
            direction = "out"
        elif self.at("arrow", "]-"):
            self.next()
            direction = "undirected"
        else:
            raise CypherSyntaxError(
                "expected ]-> or ]- in the pattern comprehension"
            )
        self.expect("punct", "(")
        dst_var = None
        dst_label = None
        if self.at("word"):
            dst_var = self.next().text
        if self.at("punct", ":"):
            self.next()
            dst_label = self.expect("word").text
        self.expect("punct", ")")
        pred = None
        if self.at("kw", "WHERE"):
            self.next()
            pred = self.parse_where(allow_bare=True)
        if not self.at("punct", "|"):
            raise CypherSyntaxError(
                "pattern comprehension requires a projection: "
                "[(v)-[:T]->(m) | expr]"
            )
        self.next()
        mapped = self.parse_return_expr(allow_bare=True)
        if isinstance(mapped, AggCall):
            raise CypherSyntaxError(
                "aggregates are not allowed inside a pattern comprehension"
            )
        self.expect("punct", "]")
        return PatternComp(
            var, edge_var, rel_type, direction, dst_var, dst_label,
            pred, mapped,
        )

    def parse_pattern_predicate(self, block: bool = False) -> PatternCond:
        """``[NOT] (v)-[:TYPE]->(target)``, ``(v)<-[:TYPE]-(target)``, or
        ``(v)-[:TYPE]-(target)`` where target is ``()`` (any) or
        ``(:Label)`` — Cypher's existential subquery shorthand in all
        three orientations. ``block=True`` (the ``EXISTS { }`` /
        ``COUNT { }`` forms) additionally accepts an edge variable
        ``-[e:T]->``, a far-endpoint variable ``(m[:L])``, and a trailing
        inner ``WHERE`` over those variables."""
        negated = False
        if self._at_word_ci("NOT"):
            self.next()
            negated = True
        self.expect("punct", "(")
        var = self.expect("word").text
        self.expect("punct", ")")
        incoming = self.at("arrow", "<-[")
        if incoming:
            self.next()
        else:
            self.expect("arrow", "-[")
        edge_var = None
        if block and self.at("word"):
            edge_var = self.next().text
        rel_type = None
        if self.at("punct", ":"):
            self.next()
            rel_type = self._parse_rel_type_alts()
        if incoming:
            if not self.at("arrow", "]-"):
                raise CypherSyntaxError(
                    "incoming pattern predicate must close with ]-"
                )
            self.next()
            direction = "in"
        elif self.at("arrow", "]->"):
            self.next()
            direction = "out"
        elif self.at("arrow", "]-"):
            self.next()
            direction = "undirected"
        else:
            raise CypherSyntaxError(
                "expected ]-> or ]- to close the pattern predicate"
            )
        self.expect("punct", "(")
        dst_var = None
        dst_label = None
        if block and self.at("word"):
            dst_var = self.next().text
        if self.at("punct", ":"):
            self.next()
            dst_label = self.expect("word").text
        self.expect("punct", ")")
        pred = None
        if block and self.at("kw", "WHERE"):
            self.next()
            pred = self.parse_where(allow_bare=True)
        return PatternCond(
            var, rel_type, dst_label, negated, direction,
            edge_var=edge_var, dst_var=dst_var, pred=pred,
        )

    def _at_word_ci(self, upper_text: str) -> bool:
        tok = self.peek()
        return tok is not None and tok.kind == "word" and tok.text.upper() == upper_text

    def _at_negative_number(self) -> bool:
        # `n.born-1` lexes "-1" as one NUMBER token (the lexer can't know
        # a binary context); the additive loop re-reads it as minus + 1 so
        # glued subtraction parses exactly like the spaced form.
        tok = self.peek()
        return (
            tok is not None and tok.kind == "number" and tok.text.startswith("-")
        )

    def parse_return_expr(self, allow_bare: bool = False):
        """RETURN/WITH item: additive arithmetic over terms. Aggregates
        may appear alone but never as arithmetic operands."""
        node = self._parse_arith_term(allow_bare)
        while self.at("op", "+") or self.at("op", "-") or self._at_negative_number():
            if self._at_negative_number():
                # split "-1" in place into minus + "1" so the remainder
                # (e.g. the "*2" in "n.a-1*2") parses with normal
                # precedence
                self.toks[self.i] = _Tok("number", self.peek().text[1:])
                op = "-"
            else:
                op = self.next().text
            right = self._parse_arith_term(allow_bare)
            node = self._binop(op, node, right)
        return node

    def _parse_arith_term(self, allow_bare: bool):
        node = self._parse_arith_power(allow_bare)
        while (
            self.at("op", "/") or self.at("op", "%") or self.at("punct", "*")
        ):
            op = self.next().text
            right = self._parse_arith_power(allow_bare)
            node = self._binop(op, node, right)
        return node

    def _parse_arith_power(self, allow_bare: bool):
        # ^ binds tighter than * and is RIGHT-associative (2^3^2 = 512),
        # per Cypher
        node = self._parse_arith_factor(allow_bare)
        if self.at("op", "^"):
            self.next()
            return self._binop("^", node, self._parse_arith_power(allow_bare))
        return node

    @staticmethod
    def _binop(op: str, left, right) -> BinOp:
        # aggregates may appear as operands (``sum(x) / count(*)`` —
        # Neo4j's implicit-grouping composite projection); the projection
        # compiler splits them out (_decompose_agg_expr)
        return BinOp(op, left, right)

    def _parse_arith_factor(self, allow_bare: bool):
        node = self._parse_arith_atom(allow_bare)
        # postfix accessors — chainable and legal on any computed
        # expression: subscripts list[i] / list[from..to], and .field
        # (temporal components on date(x), nested struct fields)
        while (
            self.at("punct", "[")
            and not isinstance(node, (int, float, str, bool))
        ) or (
            self.at("punct", ".")
            and isinstance(node, (FuncCall, FieldAccess, IndexExpr, PropRef))
        ):
            if self.at("punct", "."):
                self.next()
                node = FieldAccess(node, self.expect("word").text)
                continue
            self.next()
            lo = None
            if not (self.at("punct", ".") or self.at("punct", "]")):
                lo = self.parse_return_expr(allow_bare)
            if self.at("punct", "."):
                self.next()
                self.expect("punct", ".")
                hi = None
                if not self.at("punct", "]"):
                    hi = self.parse_return_expr(allow_bare)
                self.expect("punct", "]")
                node = SliceExpr(node, lo, hi)
            else:
                if lo is None:
                    raise CypherSyntaxError("empty [] subscript")
                self.expect("punct", "]")
                node = IndexExpr(node, lo)
        return node

    def _parse_arith_atom(self, allow_bare: bool):
        if self.at("punct", "("):
            self.next()
            node = self.parse_return_expr(allow_bare)
            self.expect("punct", ")")
            return node
        if self.at("punct", "["):
            return self._parse_list_expr(allow_bare)
        if self.at("punct", "{"):
            # literal map {k: expr, ...} in expression position (map
            # PROJECTIONS n {.k} parse after their variable, not here)
            self.next()
            entries: list[tuple[str, Any]] = []
            if not self.at("punct", "}"):
                while True:
                    ktok = self.peek()
                    if ktok is None or ktok.kind not in ("word", "string"):
                        raise CypherSyntaxError(
                            "map literal keys must be identifiers or "
                            "strings"
                        )
                    self.next()
                    key = (
                        ktok.text[1:-1].replace("\\'", "'")
                        if ktok.kind == "string"
                        else ktok.text
                    )
                    self.expect("punct", ":")
                    # a map value MAY aggregate ({n: count(*)}) — the
                    # composite-projection decomposition handles it
                    entries.append((key, self.parse_return_expr(allow_bare)))
                    if self.at("punct", ","):
                        self.next()
                        continue
                    break
            self.expect("punct", "}")
            if len({k for k, _ in entries}) != len(entries):
                raise CypherSyntaxError("duplicate key in map literal")
            return MapLit(tuple(entries))
        tok = self.peek()
        if tok is not None and tok.kind == "number":
            self.next()
            return float(tok.text) if "." in tok.text else int(tok.text)
        if tok is not None and (
            tok.kind == "string"
            or (tok.kind == "punct" and tok.text == "$")
            or (tok.kind == "kw" and tok.text in ("TRUE", "FALSE", "NULL"))
        ):
            return self.parse_value(None)
        return self._parse_primary_expr(allow_bare)

    def _parse_list_expr(self, allow_bare: bool):
        """``[`` in expression position: a pattern comprehension
        ``[(v)-[e:T]->(m) [WHERE pred] | expr]`` (lookahead: ``( word )``
        then an arrow token — unambiguous, arithmetic after ``(v)`` never
        lexes as an arrow), a list comprehension ``[x IN <expr> [WHERE
        pred] [| expr]]`` (lookahead: word IN), or a literal list
        ``[1, 2, 3]`` (homogeneous scalars, as in UNWIND)."""
        self.expect("punct", "[")
        if (
            self.at("punct", "(")
            and self.peek(1) is not None
            and self.peek(1).kind == "word"
            and self.peek(2) is not None
            and self.peek(2).kind == "punct"
            and self.peek(2).text == ")"
            and self.peek(3) is not None
            and self.peek(3).kind == "arrow"
        ):
            return self._parse_pattern_comp()
        if (
            self.at("word")
            and self.peek(1) is not None
            and self.peek(1).kind == "word"
            and self.peek(1).text.upper() == "IN"
        ):
            var = self.next().text
            self.next()  # IN
            # the source MAY aggregate ([x IN collect(y) | x * 2]) — the
            # composite-projection decomposition splits it out
            source = self.parse_return_expr(allow_bare)
            pred = None
            if self.at("kw", "WHERE"):
                self.next()
                pred = self.parse_where(allow_bare=True)
            mapped = None
            if self.at("punct", "|"):
                self.next()
                mapped = self.parse_return_expr(allow_bare=True)
                if isinstance(mapped, AggCall):
                    raise CypherSyntaxError(
                        "aggregates are not allowed inside a comprehension"
                    )
            self.expect("punct", "]")
            return ListComp(var, source, pred, mapped)
        vals: list[Any] = []
        if not self.at("punct", "]"):
            while True:
                vals.append(self.parse_return_expr(allow_bare))
                if self.at("punct", ","):
                    self.next()
                    continue
                break
        self.expect("punct", "]")
        if any(
            not (v is None or isinstance(v, (int, float, str, bool)))
            for v in vals
        ):
            # an element is an EXPRESSION (ref, function, arithmetic,
            # possibly an aggregate — [min(x), max(x)] decomposes in the
            # projection): a list constructor, compiled to F.array
            return ListExpr(tuple(vals))
        kinds = {
            "boolean" if isinstance(v, bool)
            else "number" if isinstance(v, (int, float))
            else "string" if isinstance(v, str)
            else type(v).__name__
            for v in vals
            if v is not None
        }
        if len(kinds) > 1:
            raise CypherSyntaxError(
                "list literal must be homogeneous; got mixed "
                + "/".join(sorted(kinds))
            )
        if kinds == {"number"} and any(isinstance(v, float) for v in vals):
            vals = [None if v is None else float(v) for v in vals]
        return vals

    def parse_case(self, allow_bare: bool = False) -> CaseExpr:
        """``CASE [x] WHEN ... THEN ... [ELSE ...] END`` — the generic form
        takes full WHERE predicates; the simple form desugars ``CASE x
        WHEN v`` into ``x = v`` conditions."""
        simple_left = None
        if not self._at_word_ci("WHEN"):
            simple_left = self.parse_prop_ref(allow_bare)
        whens = []
        while self._at_word_ci("WHEN"):
            self.next()
            if simple_left is not None:
                disj = [[Cond(simple_left, "=", self.parse_value(None))]]
            else:
                # a projection-position CASE may test aggregates in its
                # conditions (``CASE WHEN count(*) > 2 THEN …``) — flip
                # the predicate-position rejection for this parse only.
                # If the CASE itself sits in WHERE, the enclosing
                # condition's own deep check still rejects the aggregate.
                saved_agg_ok = self._agg_ok
                self._agg_ok = True
                try:
                    disj = self.parse_where(allow_bare=allow_bare)
                finally:
                    self._agg_ok = saved_agg_ok
            if not self._at_word_ci("THEN"):
                raise CypherSyntaxError("expected THEN after WHEN condition")
            self.next()
            # branch results may aggregate (CASE … THEN count(*) END)
            whens.append((disj, self.parse_return_expr(allow_bare)))
        if not whens:
            raise CypherSyntaxError("CASE requires at least one WHEN branch")
        default = None
        if self._at_word_ci("ELSE"):
            self.next()
            default = self.parse_return_expr(allow_bare)
        if not self._at_word_ci("END"):
            raise CypherSyntaxError("expected END to close CASE")
        self.next()
        return CaseExpr(tuple(whens), default)

    def _parse_primary_expr(
        self, allow_bare: bool = False
    ) -> PropRef | BareRef | AggCall | FuncCall:
        tok = self.peek()
        if tok is not None and tok.kind == "word" and tok.text.upper() == "CASE":
            self.next()
            return self.parse_case(allow_bare)
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text.upper() == "COUNT"
            and self.peek(1) is not None
            and self.peek(1).text == "{"
        ):
            # COUNT { (v)-[:T]->(:L) } — Neo4j 5 count subquery (an
            # optional leading MATCH inside the block is accepted)
            self.next()
            self.expect("punct", "{")
            if self.at("kw", "MATCH"):
                self.next()
            pc = self.parse_pattern_predicate(block=True)
            self.expect("punct", "}")
            if pc.negated:
                raise CypherSyntaxError(
                    "NOT inside COUNT { } is not meaningful; compare the "
                    "count instead"
                )
            return CountPattern(pc)
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text == "exists"
            and self.peek(1) is not None
            and self.peek(1).text == "("
            and self.peek(2) is not None
            and self.peek(2).kind == "word"
            and self.peek(3) is not None
            and self.peek(3).text == "."
        ):
            # legacy exists(n.prop) (pre-Neo4j-5 property-presence test)
            # — desugared to the IS NOT NULL expression; the pattern form
            # exists((n)-[:R]->()) stays rejected toward EXISTS { }
            self.next()
            self.expect("punct", "(")
            ref = self.parse_prop_ref(allow_bare)
            self.expect("punct", ")")
            if not isinstance(ref, PropRef) or ref.prop is None:
                raise CypherSyntaxError(
                    "exists() takes a property reference (n.prop)"
                )
            return IsNullExpr(ref, negated=True)
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text.upper() == "EXISTS"
            and self.peek(1) is not None
            and self.peek(1).text == "{"
        ):
            # EXISTS { pattern [WHERE …] } as a boolean EXPRESSION in
            # RETURN/WITH items (Neo4j 5) — desugared to the count
            # subquery's per-node bind compared against zero, so it
            # shares COUNT { }'s one-left-join plan shape
            self.next()
            self.expect("punct", "{")
            if self.at("kw", "MATCH"):
                self.next()
            pc = self.parse_pattern_predicate(block=True)
            self.expect("punct", "}")
            if pc.negated:
                raise CypherSyntaxError(
                    "NOT inside EXISTS { } is not supported in expression "
                    "position; compare with = false instead"
                )
            return BinOp(">", CountPattern(pc), 0)
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text == "reduce"
            and self.peek(1) is not None
            and self.peek(1).text == "("
        ):
            # reduce(acc = init, x IN list | expr) — the Cypher list fold
            self.next()
            self.expect("punct", "(")
            acc = self.expect("word").text
            self.expect("op", "=")
            init = self.parse_return_expr(allow_bare)
            self.expect("punct", ",")
            var = self.expect("word").text
            if not self._at_word_ci("IN"):
                raise CypherSyntaxError("expected IN in reduce()")
            self.next()
            source = self.parse_return_expr(allow_bare)
            self.expect("punct", "|")
            body = self.parse_return_expr(allow_bare=True)
            self.expect("punct", ")")
            # the LIST may aggregate (reduce(s = 0, x IN collect(y) | s + x));
            # init/body run inside the fold lambda, where an aggregate has
            # no group to aggregate over
            for part, what in ((init, "init"), (body, "body")):
                if _contains_agg(part):
                    raise CypherSyntaxError(
                        f"aggregates are not allowed in a reduce() {what}; "
                        "compute them in a WITH stage first"
                    )
            return ReduceExpr(acc, init, var, source, body)
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text.lower() in ("any", "all", "none", "single")
            and self.peek(1) is not None
            and self.peek(1).text == "("
            and self.peek(2) is not None
            and self.peek(2).kind == "word"
            and self.peek(3) is not None
            and self.peek(3).kind == "word"
            and self.peek(3).text.upper() == "IN"
        ):
            # any/all/none/single(x IN list WHERE pred) — openCypher's
            # list quantifier predicates. Desugared onto the ListComp
            # machinery (JVM filter lambda, zero Python) as a size()
            # comparison over the filtered list:
            #   any    -> size([x IN L WHERE p]) > 0
            #   none   -> size([x IN L WHERE p]) = 0
            #   single -> size([x IN L WHERE p]) = 1
            #   all    -> size([x IN L WHERE p]) = size(L)
            # A null list nulls size() and the comparison — Neo4j's
            # quantifier-over-null semantics. Element-level three-valued
            # logic diverges deliberately: a null predicate evaluation
            # counts as false (the comprehension WHERE contract), where
            # Neo4j may answer null; the filter-based two-valued read is
            # the documented engine-wide comprehension semantics.
            fn = self.next().text.lower()
            self.expect("punct", "(")
            var = self.expect("word").text
            self.next()  # IN
            source = self.parse_return_expr(allow_bare)
            if not self.at("kw", "WHERE"):
                raise CypherSyntaxError(
                    f"{fn}(x IN list WHERE pred) requires a WHERE clause"
                )
            self.next()
            pred = self.parse_where(allow_bare=True)
            self.expect("punct", ")")
            filtered = FuncCall("size", ListComp(var, source, pred, None))
            if fn == "any":
                return BinOp(">", filtered, 0)
            if fn == "none":
                return BinOp("=", filtered, 0)
            if fn == "single":
                return BinOp("=", filtered, 1)
            return BinOp("=", filtered, FuncCall("size", source))
        # length(p) / nodes(p) / relationships(p) — the path accessors
        # for named-path variables; modeled as PropRef(p, sentinel) so
        # the path-aware colmaps resolve them and every other context
        # rejects the unknown variable. The accessor sentinels are
        # dunder-prefixed so they can never collide with a real property.
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text in ("length", "nodes", "relationships")
            and self.peek(1) is not None
            and self.peek(1).text == "("
            and self.peek(2) is not None
            and self.peek(2).kind == "word"
            and self.peek(3) is not None
            and self.peek(3).text == ")"
        ):
            fn = self.next().text
            self.next()
            var = self.next().text
            self.next()
            prop = {
                "length": "length",
                "nodes": "__nodes",
                "relationships": "__rels",
            }[fn]
            return PropRef(var, prop)
        # labels(n) / type(r) — graph-model accessors over a bare pattern
        # variable; rewritten at parse time into refs on the model's
        # label / rel_type columns so the normal colmap machinery resolves
        # them (reference data model: Neo4jFormatTest.java:14-19).
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text in ("labels", "type", "keys", "properties")
            and self.peek(1) is not None
            and self.peek(1).text == "("
            and self.peek(2) is not None
            and self.peek(2).kind == "word"
            and self.peek(3) is not None
            and self.peek(3).text == ")"
        ):
            fn = self.next().text
            self.next()  # (
            var = self.next().text
            self.next()  # )
            if fn in ("keys", "properties"):
                # whole-variable accessors: resolved against the clause's
                # var_props annotation (see _scalar_fn_column)
                return FuncCall(fn, PropRef(var, None))
            return FuncCall(
                fn, PropRef(var, "label" if fn == "labels" else "rel_type")
            )
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text == "point"
            and self.peek(1) is not None
            and self.peek(1).text == "."
            and self.peek(2) is not None
            and self.peek(2).kind == "word"
            and self.peek(3) is not None
            and self.peek(3).text == "("
        ):
            # point.distance(a, b) / point.withinBBox(p, ll, ur) — the
            # Neo4j 5 spatial function namespace
            sub = self.peek(2).text
            if sub not in ("distance", "withinBBox"):
                raise CypherSyntaxError(
                    f"unknown spatial function point.{sub}"
                )
            self.next(), self.next(), self.next()
            self.expect("punct", "(")
            args = [self._parse_scalar_arg(allow_bare)]
            while self.at("punct", ","):
                self.next()
                args.append(self._parse_scalar_arg(allow_bare))
            self.expect("punct", ")")
            want = 2 if sub == "distance" else 3
            if len(args) != want:
                raise CypherSyntaxError(
                    f"point.{sub}() takes {want} arguments, got {len(args)}"
                )
            return FuncCall(f"point.{sub}", args[0], tuple(args[1:]))
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text == "duration"
            and self.peek(1) is not None
            and self.peek(1).text == "("
            and self.peek(2) is not None
            and self.peek(2).text == "{"
        ):
            # duration({years, months, weeks, days}) — the calendar-
            # duration constructor consumed by date ± duration arithmetic
            self.next()
            self.expect("punct", "(")
            m = self._parse_arith_atom(allow_bare)
            self.expect("punct", ")")
            if not isinstance(m, MapLit):
                raise CypherSyntaxError(
                    "duration() takes a component map, e.g. "
                    "duration({days: 3})"
                )
            return FuncCall("duration", m)
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text == "duration"
            and self.peek(1) is not None
            and self.peek(1).text == "."
            and self.peek(2) is not None
            and self.peek(2).kind == "word"
            and self.peek(3) is not None
            and self.peek(3).text == "("
        ):
            # duration.between(a, b) / duration.inDays / duration.inSeconds
            # — the Cypher temporal-difference constructors
            sub = self.peek(2).text
            if sub not in ("between", "inDays", "inSeconds"):
                raise CypherSyntaxError(
                    f"unknown duration function duration.{sub}"
                )
            self.next(), self.next(), self.next()
            self.expect("punct", "(")
            a = self.parse_return_expr(allow_bare)
            self.expect("punct", ",")
            b = self.parse_return_expr(allow_bare)
            self.expect("punct", ")")
            return FuncCall(f"duration.{sub}", a, (b,))
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text in ("date", "datetime")
            and self.peek(1) is not None
            and self.peek(1).text == "."
            and self.peek(2) is not None
            and self.peek(2).kind == "word"
            and self.peek(3) is not None
            and self.peek(3).text == "("
        ):
            # date.truncate('month', d) / datetime.truncate('hour', dt) —
            # Neo4j's calendar-bucketing constructors
            base, sub = tok.text, self.peek(2).text
            if sub != "truncate":
                raise CypherSyntaxError(
                    f"unknown temporal function {base}.{sub}"
                )
            self.next(), self.next(), self.next()
            self.expect("punct", "(")
            unit = self.parse_value(None)
            if not isinstance(unit, str):
                raise CypherSyntaxError(
                    f"{base}.truncate unit must be a string literal"
                )
            self.expect("punct", ",")
            a = self.parse_return_expr(allow_bare)
            self.expect("punct", ")")
            return FuncCall(f"{base}.truncate", a, (unit,))
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text in _FN_ARITY
            and self.peek(1) is not None
            and self.peek(1).text == "("
        ):
            fn = self.next().text
            self.expect("punct", "(")
            lo, hi = _FN_ARITY[fn]
            args = []
            if not self.at("punct", ")"):
                args.append(self._parse_scalar_arg(allow_bare))
                while self.at("punct", ","):
                    self.next()
                    args.append(self._parse_scalar_arg(allow_bare))
            self.expect("punct", ")")
            if len(args) < lo or (hi is not None and len(args) > hi):
                span = str(lo) if hi == lo else f"{lo}..{hi or 'n'}"
                raise CypherSyntaxError(
                    f"{fn}() takes {span} argument(s), got {len(args)}"
                )
            if not args:  # zero-arg constants: pi() / e()
                return FuncCall(fn, None)
            return FuncCall(fn, args[0], tuple(args[1:]))
        if (
            tok is not None
            and tok.kind == "word"
            and tok.text.upper() in _AGG_FNS
            and self.peek(1) is not None
            and self.peek(1).kind == "punct"
            and self.peek(1).text == "("
        ):
            fn = self.next().text.upper()
            self.expect("punct", "(")
            distinct = False
            if self._at_word_ci("DISTINCT"):
                self.next()
                distinct = True
            arg: PropRef | BareRef | None
            if self.at("punct", "*"):
                self.next()
                arg = None
            elif (
                not allow_bare
                and self.at("word")
                and self.peek(1) is not None
                and self.peek(1).text == ")"
            ):
                # count(n) counts NON-NULL bindings of n (distinct from
                # count(*) under OPTIONAL MATCH, where a failed optional
                # pattern null-extends n); count(DISTINCT n) counts
                # distinct matched entities — both over the internal id
                var = self.next().text
                if fn not in ("COUNT", "COLLECT"):
                    raise CypherSyntaxError(
                        f"{fn} over a whole pattern variable is not "
                        "supported; aggregate a property"
                    )
                # count(n): non-null internal-id bindings. collect(n):
                # the SAME full struct RETURN n projects (id + meta +
                # properties) — never the bare engine-internal id list,
                # mirroring Neo4j's collect of node maps.
                arg = WholeVar(var) if fn == "COLLECT" else PropRef(var, None)
            else:
                # the argument is a full expression — ``sum(l.price * (1 -
                # l.disc))`` (TPC-H Q1's shape), ``sum(CASE WHEN … THEN 1
                # ELSE 0 END)`` (conditional counting), ``collect([n.a,
                # n.b])``. Nested aggregates are not a thing (Neo4j
                # rejects them too).
                arg = self.parse_return_expr(allow_bare)
                if _contains_agg(arg):
                    raise CypherSyntaxError(
                        f"aggregates cannot nest inside {fn}()"
                    )
            if arg is None and fn != "COUNT":
                raise CypherSyntaxError(f"{fn} requires a property argument")
            extra: tuple = ()
            if self.at("punct", ","):
                # percentileCont(n.x, 0.5) — the percentile is a literal
                self.next()
                pval = self.parse_value(None)
                if fn not in ("PERCENTILECONT", "PERCENTILEDISC"):
                    raise CypherSyntaxError(
                        f"{fn} takes a single argument"
                    )
                if not isinstance(pval, (int, float)) or isinstance(
                    pval, bool
                ) or not (0 <= pval <= 1):
                    raise CypherSyntaxError(
                        "percentile must be a number in [0, 1]"
                    )
                extra = (pval,)
            if fn in ("PERCENTILECONT", "PERCENTILEDISC") and not extra:
                raise CypherSyntaxError(
                    f"{fn} requires a percentile argument: {fn}(n.x, 0.5)"
                )
            if fn in ("STDEV", "STDEVP", "PERCENTILECONT", "PERCENTILEDISC") and distinct:
                raise CypherSyntaxError(
                    f"DISTINCT is not supported inside {fn}"
                )
            self.expect("punct", ")")
            return AggCall(fn, arg, distinct, extra)
        if (
            tok is not None
            and tok.kind == "word"
            and self.peek(1) is not None
            and self.peek(1).text == "{"
        ):
            # n {.name, .born} / n {.*} — Cypher map projection (literal
            # keys and variable entries are rejected, not mis-parsed)
            var = self.next().text
            self.expect("punct", "{")
            props: list[str] = []
            extras: list[tuple[str, Any]] = []
            while True:
                if self.at("punct", "."):
                    self.next()
                    if self.at("punct", "*"):
                        self.next()
                        props.append("*")
                    else:
                        props.append(self.expect("word").text)
                elif (
                    self.at("word")
                    and self.peek(1) is not None
                    and self.peek(1).text == ":"
                ):
                    # computed entry {key: expr} — Neo4j's map-projection
                    # extras, evaluated in the enclosing scope
                    key = self.next().text
                    self.next()
                    extras.append((key, self.parse_return_expr(allow_bare)))
                else:
                    raise CypherSyntaxError(
                        "map projection entries must be .prop, .*, or "
                        "key: expr"
                    )
                if self.at("punct", ","):
                    self.next()
                    continue
                break
            self.expect("punct", "}")
            if "*" in props and len(props) > 1:
                raise CypherSyntaxError(
                    ".* selects every property; combine it with nothing"
                )
            keys = [k for k, _ in extras]
            if len(set(keys) | set(p for p in props if p != "*")) != len(
                keys
            ) + len([p for p in props if p != "*"]):
                raise CypherSyntaxError("duplicate key in map projection")
            return MapProj(var, tuple(props), tuple(extras))
        if (
            not allow_bare
            and tok is not None
            and tok.kind == "word"
            and (self.peek(1) is None or self.peek(1).text != ".")
        ):
            # RETURN n — the whole pattern variable (in a WITH-scoped row,
            # allow_bare instead resolves bare words as projected aliases)
            return WholeVar(self.next().text)
        return self.parse_prop_ref(allow_bare)

    def parse_return(self, allow_bare: bool = False) -> tuple[bool, list[ReturnItem]]:
        distinct = False
        if self._at_word_ci("DISTINCT"):
            self.next()
            distinct = True
        items: list[ReturnItem] = []
        while True:
            if self.at("punct", "*"):
                # RETURN * — expanded against the clause scope later
                self.next()
                items.append(ReturnItem(Star(), None))
            else:
                expr = self.parse_return_expr(allow_bare)
                if self._at_word_ci("IS"):
                    # expr IS [NOT] NULL as a projected boolean value
                    self.next()
                    neg = False
                    if self._at_word_ci("NOT"):
                        self.next()
                        neg = True
                    self.expect("kw", "NULL")
                    if isinstance(expr, AggCall):
                        raise CypherSyntaxError(
                            "IS NULL over an aggregate is never null; "
                            "test the aliased value in a WITH stage"
                        )
                    expr = IsNullExpr(expr, neg)
                alias = None
                if self.at("kw", "AS"):
                    self.next()
                    alias = self.expect("word").text
                items.append(ReturnItem(expr, alias))
            if self.at("punct", ","):
                self.next()
                continue
            return distinct, items

    def parse_tail(
        self, require_end: bool = True, allow_bare: bool = False
    ) -> tuple[list[tuple], int | None, int | None]:
        """``ORDER BY <name> [ASC|DESC], ... [SKIP n] [LIMIT m]`` — names
        refer to RETURN aliases (or default output names), SKIP/LIMIT in
        openCypher clause order. With ``require_end=False`` (inside a
        ``WITH`` stage) trailing tokens are left for the caller."""
        order: list[tuple] = []
        if self._at_word_ci("ORDER"):
            self.next()
            if not self._at_word_ci("BY"):
                raise CypherSyntaxError("expected BY after ORDER")
            self.next()
            while True:
                # a projected-column alias, or the Cypher
                # sort-by-projected-expression idioms `ORDER BY n.prop` /
                # `ORDER BY count(*)` — an expression that must match a
                # projected item (resolved in _order_columns)
                # full expression parse: alias words, n.prop, aggregates,
                # scalar fns, AND arithmetic (``ORDER BY born - 1``) all
                # come out of the one grammar; a bare word collapses back
                # to the string-alias form _order_columns resolves first
                key: "str | PropRef | AggCall" = self.parse_return_expr(
                    allow_bare=True
                )
                if isinstance(key, BareRef):
                    key = key.name
                if not isinstance(
                    key, (str, PropRef, AggCall, FuncCall, BinOp, CaseExpr)
                ):
                    raise CypherSyntaxError(
                        "ORDER BY key must be a column, expression, or "
                        "aggregate — not a literal"
                    )
                asc = True
                if self._at_word_ci("ASC"):
                    self.next()
                elif self._at_word_ci("DESC"):
                    self.next()
                    asc = False
                order.append((key, asc))
                if self.at("punct", ","):
                    self.next()
                    continue
                break
        def int_or_param(what: str) -> int:
            # SKIP/LIMIT take a literal integer or a $param resolved at
            # parse time (the pagination idiom every client parameterizes)
            if self.at("punct", "$"):
                val = self.parse_value(None)
                if isinstance(val, bool) or not isinstance(val, int):
                    raise CypherSyntaxError(f"{what} must be an integer")
                return val
            tok = self.expect("number")
            if "." in tok.text:
                raise CypherSyntaxError(f"{what} must be an integer")
            return int(tok.text)

        skip = None
        if self._at_word_ci("SKIP"):
            self.next()
            skip = int_or_param("SKIP")
        limit = None
        if self._at_word_ci("LIMIT"):
            self.next()
            limit = int_or_param("LIMIT")
        if require_end and self.peek() is not None:
            raise CypherSyntaxError(f"unexpected token {self.peek().text!r}")
        return order, skip, limit


# -- translation: reads ----------------------------------------------------


#: single-column openCypher scalar functions -> Spark translations.
#: Multi-arg forms (round/left/right/split/substring/replace) and the
#: type-dispatching ones (size/coalesce/graph accessors) live in
#: _scalar_fn_column's body. Casts use try_cast where Cypher returns null
#: on unconvertible input (toInteger('x') is null, never an error —
#: Spark's default ANSI cast would throw). ceil/floor/round return Float
#: in Cypher regardless of input, sign() returns Integer.
_SCALAR_FNS = {
    "toLower": F.lower, "toUpper": F.upper, "trim": F.trim,
    "ltrim": F.ltrim, "rtrim": F.rtrim, "reverse": F.reverse,
    "abs": F.abs, "sqrt": F.sqrt, "exp": F.exp,
    "sign": lambda c: F.signum(c).cast("long"),
    "toInteger": lambda c: c.try_cast("long"),
    "toFloat": lambda c: c.try_cast("double"),
    "toString": lambda c: c.cast("string"),
    "toBoolean": lambda c: c.try_cast("boolean"),
    # Cypher temporal constructors from ISO strings (date('2024-01-15'),
    # datetime('2024-01-15T10:30:00')); unparseable input is null via
    # try_cast, mirroring the other conversion functions. date(datetime)
    # truncates to the calendar date, as in Neo4j.
    "date": lambda c: c.try_cast("date"),
    "datetime": lambda c: c.try_cast("timestamp"),
    "ceil": lambda c: F.ceil(c).cast("double"),
    "floor": lambda c: F.floor(c).cast("double"),
    "head": lambda c: F.try_element_at(c, F.lit(1)),
    "last": lambda c: F.try_element_at(c, F.lit(-1)),
    # Cypher math surface (all FLOAT-returning, like Neo4j): natural log,
    # log10, trig + inverses, degree/radian conversion. rand() is
    # deliberately absent (nondeterminism breaks the engine's
    # reproducible-answer contract); cot/haversin omitted until their
    # division-by-zero edge semantics are pinned against Neo4j.
    "log": F.log, "log10": F.log10, "sin": F.sin, "cos": F.cos,
    "tan": F.tan, "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "degrees": F.degrees, "radians": F.radians,
}


def _scalar_fn_column(call: FuncCall, colmap, df: DataFrame) -> Column:
    """Translate one RETURN/WITH scalar function call against ``df``.

    The frame is needed for two things plain colmaps can't answer:
    missing-property operands (``coalesce(n.nickname, n.name)`` where no
    write ever created ``nickname`` — Neo4j reads null, so the operand
    becomes a null literal rather than an analysis error) and ``size``'s
    type dispatch (list length for arrays, character length for strings,
    per openCypher). Arguments are full expressions (nested calls,
    arithmetic) resolved through _expr_column."""

    def resolve(a) -> Column:
        return _expr_column(a, colmap, df)

    if call.fn == "point":
        # Neo4j's spatial point: a (x, y, crs) struct value. Cartesian
        # {x, y} or geographic {longitude, latitude} (stored as x=lon,
        # y=lat with crs='wgs-84', matching Neo4j's p.x == p.longitude).
        # A struct column — codegen-native, groupable, carryable through
        # WITH like any value; no UDT, no Python.
        if not isinstance(call.arg, MapLit):
            raise CypherSyntaxError(
                "point() takes a map: point({x: …, y: …}) or "
                "point({longitude: …, latitude: …})"
            )
        entries = dict(call.arg.entries)
        keys = set(entries)
        if keys == {"x", "y"}:
            crs, kx, ky = "cartesian", "x", "y"
        elif keys == {"longitude", "latitude"}:
            crs, kx, ky = "wgs-84", "longitude", "latitude"
        else:
            raise CypherSyntaxError(
                "point() map must be exactly {x, y} or "
                "{longitude, latitude}; got {"
                + ", ".join(sorted(keys)) + "}"
            )
        return F.struct(
            resolve(entries[kx]).cast("double").alias("x"),
            resolve(entries[ky]).cast("double").alias("y"),
            F.lit(crs).alias("crs"),
        )
    if call.fn == "point.distance":
        # cartesian: Euclidean; wgs-84: haversine meters on the
        # mean-radius sphere (R=6371000 — the oracle states the SAME
        # formula, so conformance is formula-exact; trig ulp differences
        # vanish under the ROUND discipline). Mixed-CRS distance is null,
        # per Neo4j 5 — the when() chain nulls it for free.
        a, b = resolve(call.arg), resolve(call.extra[0])
        ax, ay, bx, by = a["x"], a["y"], b["x"], b["y"]
        euclid = F.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))
        rad = 3.141592653589793 / 180.0
        dlat, dlon = (by - ay) * rad, (bx - ax) * rad
        half_lat, half_lon = F.sin(dlat / 2), F.sin(dlon / 2)
        h = half_lat * half_lat + (
            F.cos(ay * rad) * F.cos(by * rad) * half_lon * half_lon
        )
        hav = 2.0 * 6371000.0 * F.asin(F.sqrt(h))
        return F.when(
            a["crs"] == b["crs"],
            F.when(a["crs"] == F.lit("wgs-84"), hav).otherwise(euclid),
        )
    if call.fn == "point.withinBBox":
        p = resolve(call.arg)
        lo, hi = resolve(call.extra[0]), resolve(call.extra[1])
        return (
            (p["x"] >= lo["x"]) & (p["x"] <= hi["x"])
            & (p["y"] >= lo["y"]) & (p["y"] <= hi["y"])
        )
    if call.fn in ("date", "datetime") and isinstance(call.arg, MapLit):
        # Neo4j's component map constructors: date({year, month, day}) /
        # datetime({year … second}) — year required, month/day default 1,
        # time parts default 0. Compiles to make_date/make_timestamp
        # (session UTC); out-of-range components raise at runtime under
        # ANSI, matching Neo4j's invalid-component error rather than
        # silently nulling.
        comp_order = (
            ("year", "month", "day")
            if call.fn == "date"
            else ("year", "month", "day", "hour", "minute", "second")
        )
        entries = dict(call.arg.entries)
        unknown = set(entries) - set(comp_order)
        if unknown:
            raise CypherSyntaxError(
                f"{call.fn}() map constructor got unsupported "
                f"component(s): {', '.join(sorted(unknown))}"
            )
        if "year" not in entries:
            raise CypherSyntaxError(
                f"{call.fn}() map constructor requires a year component"
            )
        defaults = {"month": 1, "day": 1, "hour": 0, "minute": 0, "second": 0}
        comps = [
            resolve(entries[k]).cast("int")
            if k in entries
            else F.lit(defaults[k])
            for k in comp_order
        ]
        if call.fn == "date":
            return F.make_date(*comps)
        return F.make_timestamp(*comps[:5], comps[5].cast("decimal(16,6)"))

    if call.fn in ("date.truncate", "datetime.truncate"):
        # calendar bucketing; units follow Neo4j's names (week truncates
        # to the ISO Monday on both engines). date.truncate keeps DATE,
        # datetime.truncate keeps TIMESTAMP; sub-day units on a plain
        # date are rejected like the temporal accessors.
        unit = call.extra[0].lower()
        a = resolve(call.arg)
        if call.fn == "date.truncate":
            fmts = {"year": "year", "quarter": "quarter",
                    "month": "month", "week": "week"}
            if unit == "day":
                return a.cast("date")
            if unit not in fmts:
                raise CypherSyntaxError(
                    f"date.truncate does not support unit {unit!r}"
                )
            return F.trunc(a, fmts[unit])
        units = {"year", "quarter", "month", "week", "day", "hour",
                 "minute", "second"}
        if unit not in units:
            raise CypherSyntaxError(
                f"datetime.truncate does not support unit {unit!r}"
            )
        return F.date_trunc(unit, a)

    if call.fn.startswith("duration."):
        # duration.between / duration.inDays / duration.inSeconds — the
        # Cypher temporal-difference constructors, as component structs
        # consumed by .months/.days/.seconds accessors. between() carries
        # Neo4j's calendar semantics (whole months first, then leftover
        # days: Jan 31 → Mar 10 is P1M10D) and is DATE-level — timestamp
        # operands are rejected toward inSeconds rather than silently
        # mis-rounding time-of-day carry.
        a, b = resolve(call.arg), resolve(call.extra[0])
        sub = call.fn.split(".", 1)[1]
        if sub == "inDays":
            return F.struct(
                F.datediff(b, a).cast("long").alias("days"), _DUR_TAG_COL()
            )
        if sub == "inSeconds":
            return F.struct(
                (F.unix_timestamp(b) - F.unix_timestamp(a)).alias("seconds"),
                _DUR_TAG_COL(),
            )
        from pyspark.sql.types import DateType

        for side in (a, b):
            if not isinstance(_datatype_of(side, df), DateType):
                raise CypherSyntaxError(
                    "duration.between supports date operands; use "
                    "duration.inSeconds for datetimes"
                )
        # whole calendar months with Neo4j's contract: the largest m such
        # that a + m months does not pass b (toward-zero for negatives).
        # months_between's /31-day fraction UNDERCOUNTS clamp cases
        # (Jan 30 → Feb 28 is a whole month, 0.935 by fraction) — one
        # conditional add_months probe corrects it exactly.
        m0 = F.months_between(b, a).cast("long")
        months = (
            F.when((m0 >= 0) & (F.add_months(a, m0 + 1) <= b), m0 + 1)
            .when((m0 <= 0) & (F.add_months(a, m0 - 1) >= b), m0 - 1)
            .otherwise(m0)
        )
        days = F.datediff(b, F.add_months(a, months)).cast("long")
        return F.struct(
            months.alias("months"), days.alias("days"), _DUR_TAG_COL()
        )
    if call.fn in ("keys", "properties"):
        # keys(n): the property names present (non-null) on the row, sorted
        # for determinism (Neo4j leaves order unspecified). properties(n):
        # the property map — Spark maps are monomorphic in the value type,
        # so heterogeneous Neo4j property maps are surfaced as a canonical
        # JSON string (sorted fields, nulls omitted — matching keys()).
        ref = call.arg
        var_props = getattr(colmap, "var_props", None)
        structs = getattr(colmap, "structs", {})
        if var_props is not None and ref.var in var_props:
            props = sorted(var_props[ref.var])
        elif ref.var in structs:
            # WITH-carried node/edge struct: its property fields minus
            # the meta columns — same inventory a pattern scope serves
            props = sorted(f for f in structs[ref.var] if f not in STRUCTURAL)
        else:
            raise CypherSyntaxError(
                f"{call.fn}({ref.var}) is not supported in this clause "
                "position (pattern variable not in scope)"
            )
        cols = [(p, colmap(PropRef(ref.var, p))) for p in props]
        if call.fn == "keys":
            if not cols:
                return F.lit([]).cast("array<string>")
            return F.array_compact(
                F.array(*[F.when(c.isNotNull(), F.lit(p)) for p, c in cols])
            )
        if not cols:
            return F.lit("{}")
        return F.to_json(F.struct(*[c.alias(p) for p, c in cols]))
    if call.fn == "labels":
        # primary + extra-label model (SURVEY §1.1): labels(n) reads the
        # primary label then any SET-added extras, in addition order;
        # array_compact collapses a REMOVEd (null) primary so a fully
        # unlabeled vertex reads Neo4j's []. Graphs that were never
        # label-mutated have no extras column and read the one-element
        # list as before.
        prim = F.array(resolve(call.arg))
        if isinstance(call.arg, PropRef) and _has_extra_labels(df):
            try:
                extra = resolve(PropRef(call.arg.var, EXTRA_LABELS))
                df.select(extra)  # analysis probe: column exists?
            except Exception:
                extra = None
            if extra is not None:
                return F.array_compact(
                    F.concat(
                        prim,
                        F.coalesce(extra, F.array().cast("array<string>")),
                    )
                )
        return F.array_compact(prim)
    if call.fn == "type":
        return resolve(call.arg)
    if call.fn == "coalesce":
        return F.coalesce(*[resolve(a) for a in (call.arg, *call.extra)])
    if call.fn == "size":
        col = resolve(call.arg)
        # analysis-only probe (no job) — computed args (size(split(...)))
        # dispatch on their resolved type, not just plain column names.
        # Inside a comprehension lambda the arg column itself cannot be
        # analyzed against df (lambda variables are scope-local), so the
        # colmap supplies a same-typed probe twin built on real columns.
        probe_map = getattr(colmap, "probe", None)
        probe_col = (
            _expr_column(call.arg, probe_map, df) if probe_map is not None else col
        )
        dtype = (
            df.select(probe_col.alias("__sz")).schema[0].dataType.simpleString()
        )
        return F.size(col) if dtype.startswith("array") else F.length(col)
    if call.fn == "tail":
        # tail(list): everything after the head; tail(null) = null,
        # tail([]) = [] (greatest clamps the negative length; slice of a
        # null list nulls through)
        col = resolve(call.arg)
        return F.slice(
            col, F.lit(2), F.greatest(F.size(col) - 1, F.lit(0))
        )
    if call.fn == "duration":
        # duration({years, months, weeks, days}) → the same (months,
        # days) component struct duration.between yields, normalized at
        # compile time (12·years + months, 7·weeks + days). Time
        # components are rejected loudly: date arithmetic would silently
        # truncate them, and raising beats mis-answering.
        ml = call.arg
        entries = dict(ml.entries)
        bad = sorted(set(entries) - {"years", "months", "weeks", "days"})
        if bad:
            raise CypherSyntaxError(
                f"duration() supports calendar components "
                f"years/months/weeks/days; got {bad}"
            )
        if not entries:
            raise CypherSyntaxError("duration() needs at least one component")

        def comp(key: str) -> Column:
            e = entries.get(key)
            if e is None:
                return F.lit(0).cast("long")
            return _expr_column(e, colmap, df).cast("long")

        return F.struct(
            (comp("years") * 12 + comp("months")).alias("months"),
            (comp("weeks") * 7 + comp("days")).alias("days"),
            _DUR_TAG_COL(),
        )
    if call.fn == "isEmpty":
        # isEmpty(string | list | map) — type-dispatched like size();
        # null input nulls through (Neo4j: isEmpty(null) = null)
        col = resolve(call.arg)
        probe_map = getattr(colmap, "probe", None)
        probe_col = (
            _expr_column(call.arg, probe_map, df) if probe_map is not None else col
        )
        dtype = (
            df.select(probe_col.alias("__ie")).schema[0].dataType.simpleString()
        )
        if dtype.startswith(("array", "map")):
            return F.size(col) == 0
        if dtype == "string":
            return F.length(col) == 0
        if dtype == "void":
            # isEmpty(null) = null (Neo4j) — a literal null has no type
            return F.lit(None).cast("boolean")
        # Neo4j raises a type error on e.g. isEmpty(42); falling through
        # to length() would implicitly cast and silently answer false
        raise CypherSyntaxError(
            f"isEmpty() expects a string, list or map; got {dtype}"
        )
    if call.fn in ("pi", "e"):
        return F.lit(math.pi if call.fn == "pi" else math.e)
    if call.fn == "atan2":
        return F.atan2(
            resolve(call.arg).cast("double"),
            resolve(call.extra[0]).cast("double"),
        )
    if call.fn == "range":
        # Cypher range(lo, hi[, step]): INCLUSIVE bounds, default step 1,
        # empty when the step points away from hi. Compiles to Spark's
        # sequence() guarded by the direction check (sequence raises on a
        # mismatched direction where Cypher returns []); literal step 0
        # is rejected at compile time like Neo4j's runtime error, and a
        # NON-literal step is guarded at runtime (a dynamic zero must
        # raise like Neo4j, not silently return [] — the loud-error
        # contract). A null step still nulls through to [] like before.
        if len(call.extra) > 1 and isinstance(call.extra[1], (int, float)):
            if call.extra[1] == 0:
                raise CypherSyntaxError("range() step must be non-zero")
        args = [resolve(a).cast("long") for a in (call.arg, *call.extra)]
        lo, hi = args[0], args[1]
        step = args[2] if len(args) > 2 else F.lit(1).cast("long")
        if len(args) > 2 and not isinstance(call.extra[1], (int, float)):
            step = F.when(
                step == 0,
                F.assert_true(
                    F.lit(False), F.lit("range() step must be non-zero")
                ).cast("long"),
            ).otherwise(step)
        nonempty = ((step > 0) & (hi >= lo)) | ((step < 0) & (hi <= lo))
        return F.when(nonempty, F.sequence(lo, hi, step)).otherwise(
            F.lit([]).cast("array<bigint>")
        )
    args = [resolve(a) for a in (call.arg, *call.extra)]
    if call.fn == "round":
        if len(args) == 1:
            return F.round(args[0], 0).cast("double")
        if not isinstance(call.extra[0], int):
            raise CypherSyntaxError(
                "round() precision must be an integer literal"
            )
        return F.round(args[0], call.extra[0]).cast("double")
    if call.fn == "left":
        return F.left(args[0], args[1])
    if call.fn == "right":
        return F.right(args[0], args[1])
    if call.fn == "split":
        # Cypher splits on a LITERAL delimiter; Spark's split takes a
        # regex, so the literal is escaped (non-literal delimiters would
        # need runtime escaping — rejected, not mis-answered)
        if not isinstance(call.extra[0], str):
            raise CypherSyntaxError(
                "split() delimiter must be a string literal"
            )
        return F.split(args[0], re.escape(call.extra[0]))
    if call.fn == "substring":
        # Cypher substring(s, start[, length]) is 0-based; Spark is 1-based
        length = args[2] if len(args) > 2 else F.length(args[0])
        return F.substring(args[0], args[1] + 1, length)
    if call.fn == "replace":
        return F.replace(args[0], args[1], args[2])
    return _SCALAR_FNS[call.fn](args[0])


def _is_integral(expr, colmap, df: DataFrame) -> bool:
    """Conservative static typing for Cypher's integer-division rule:
    True only when the operand is provably integer-typed."""
    if isinstance(expr, bool):
        return False
    if isinstance(expr, int):
        return True
    if isinstance(expr, BinOp):
        return _is_integral(expr.left, colmap, df) and _is_integral(
            expr.right, colmap, df
        )
    if isinstance(expr, FuncCall):
        if expr.fn in ("size", "toInteger", "sign"):
            return True  # integer-valued by definition
        if expr.fn == "abs":
            return _is_integral(expr.arg, colmap, df)
        if expr.fn == "coalesce":
            # integral iff every operand is (Cypher's integer-division
            # rule must survive the canonical coalesce-default pattern)
            return all(
                _is_integral(a, colmap, df)
                for a in (expr.arg, *expr.extra)
            )
        return False
    if isinstance(expr, (PropRef, BareRef)):
        name = _plain_name(colmap(expr))
        dtype = dict(df.dtypes).get(name) if name else None
        return dtype in ("tinyint", "smallint", "int", "bigint")
    return False


def _datatype_of(col: Column, df: DataFrame):
    """Spark DataType of ``col`` against ``df`` via a driver-side analysis
    of a one-column projection (resolves the expression tree, executes
    nothing). None when the Column cannot be analyzed against this frame
    (e.g. a higher-order-function lambda argument)."""
    try:
        return df.select(col).schema[0].dataType
    except Exception:
        return None


def _dtype_of(col: Column, df: DataFrame) -> str | None:
    """Spark dtype string of ``col`` against ``df``: plain-name lookup when
    the Column is a bare reference, else an analysis probe."""
    name = _plain_name(col)
    if name is not None:
        dtype = dict(df.dtypes).get(name)
        if dtype is not None:
            return dtype
    dt = _datatype_of(col, df)
    return dt.simpleString() if dt is not None else None


#: scalar functions whose result type is known statically — enough for
#: `+`'s concat-vs-arithmetic dispatch without analyzing the frame
_STRING_FNS = frozenset({
    "toLower", "toUpper", "trim", "ltrim", "rtrim", "toString", "left",
    "right", "substring", "replace", "type",
})
_ARRAY_FNS = frozenset({"split", "range", "keys", "labels"})
_NUMERIC_FNS = frozenset({
    "toInteger", "toFloat", "abs", "sign", "sqrt", "exp", "ceil", "floor",
    "round", "size", "length", "id",
})


def _operand_kind(expr, colmap, df: DataFrame) -> str | None:
    """Coarse static type of a ``+`` operand — "string" / "array" /
    "numeric" / "other" / None (unknown). Drives Cypher's overloaded
    ``+``: concatenation when either side is a string or a list,
    arithmetic otherwise. Conservative: unknown falls through to
    arithmetic, where a genuinely mis-typed operand still fails loudly in
    Spark's analyzer."""
    if isinstance(expr, bool):
        return "other"
    if isinstance(expr, (int, float)):
        return "numeric"
    if isinstance(expr, str):
        return "string"
    if isinstance(expr, list):
        return "array"
    if isinstance(expr, (ListComp, SliceExpr, ListExpr)):
        return "array"
    if isinstance(expr, BinOp):
        if expr.op == "+":
            return _operand_kind(expr.left, colmap, df) or _operand_kind(
                expr.right, colmap, df
            )
        return "numeric"
    if isinstance(expr, FuncCall):
        if expr.fn in _STRING_FNS:
            return "string"
        if expr.fn in _ARRAY_FNS:
            return "array"
        if expr.fn in _NUMERIC_FNS:
            return "numeric"
        if expr.fn in ("coalesce", "head", "last", "reverse"):
            for a in (expr.arg, *getattr(expr, "extra", ())):
                k = _operand_kind(a, colmap, df)
                if k is not None:
                    # head/last yield an ELEMENT of their list operand —
                    # kind unknowable without element types; only pass
                    # through non-array kinds (reverse preserves its kind)
                    if expr.fn in ("head", "last") and k == "array":
                        return None
                    return k
            return None
        return None
    if isinstance(expr, (PropRef, BareRef)):
        try:
            probe = getattr(colmap, "probe", colmap)
            col = probe(expr)
        except Exception:
            return None
        dtype = _dtype_of(col, df)
        if dtype is None:
            return None
        if dtype == "string":
            return "string"
        if dtype.startswith("array"):
            return "array"
        if dtype in ("tinyint", "smallint", "int", "bigint", "float",
                     "double") or dtype.startswith("decimal"):
            return "numeric"
        return "other"
    return None


def _lambda_colmap(outer, bindings: dict, probes: dict):
    """colmap for a higher-order-function lambda body: ``bindings`` maps
    lambda variable names to their (scope-local, unanalyzable) argument
    Columns, ``probes`` to df-resolvable same-typed twins used only for
    size()'s type dispatch. Everything else falls through to the
    enclosing scope's colmap (Cypher closure semantics)."""

    def _name(ref):
        if isinstance(ref, BareRef):
            return ref.name
        if isinstance(ref, PropRef):
            return ref.var
        return None

    def sub(ref):
        name = _name(ref)
        if name in bindings:
            if isinstance(ref, PropRef) and ref.prop is not None:
                raise CypherSyntaxError(
                    f"lambda variable {name!r} is a scalar; it has no "
                    f"property {ref.prop!r}"
                )
            return bindings[name]
        return outer(ref)

    def probe(ref):
        name = _name(ref)
        if name in probes and not (
            isinstance(ref, PropRef) and ref.prop is not None
        ):
            return probes[name]
        return outer(ref)

    probe.lambda_vars = tuple(bindings)
    sub.probe = probe
    sub.lambda_vars = tuple(bindings)
    return sub


#: sentinel field every compiler-produced duration struct carries —
#: ``_dur_fields`` requires it, so a user map literal / map projection that
#: happens to spell {days: 2} can never duck-type into duration arithmetic
#: (Neo4j raises a type error for plain maps; inferring from the field
#: names alone silently field-wise-summed them).
DUR_TAG = "__dur"


def _DUR_TAG_COL() -> Column:
    return F.lit(True).alias(DUR_TAG)


def _dur_fields(dtype: str | None) -> set[str] | None:
    """Component field set when ``dtype`` is a compiler-produced duration
    struct (flat, tagged with ``DUR_TAG``, components ⊆ {months, days,
    seconds}), else None. Point structs (x, y, crs) and user maps never
    qualify — only the duration()/duration.* constructors and duration
    sums emit the tag."""
    if dtype is None:
        return None
    mo = re.fullmatch(r"struct<([^<>]*)>", dtype)
    if mo is None:
        return None
    fields = {f.split(":", 1)[0] for f in mo.group(1).split(",") if f}
    comps = fields - {DUR_TAG}
    if DUR_TAG in fields and comps and comps <= {"months", "days", "seconds"}:
        return comps
    return None


def _duration_binop(
    expr: "BinOp", left: Column, right: Column, df: DataFrame
) -> Column | None:
    """``date ± duration`` / ``duration + date`` / ``duration ± duration``
    — Cypher temporal arithmetic over the (months, days) component
    structs duration()/duration.between produce. Calendar components
    apply as add_months + date_add (exactly Neo4j's order: months first,
    then days). Seconds-bearing durations and timestamp operands raise
    typed errors rather than silently truncating. Returns None when
    neither operand is a duration (normal arithmetic proceeds)."""
    ld, rd = _dtype_of(left, df), _dtype_of(right, df)
    lf, rf = _dur_fields(ld), _dur_fields(rd)
    if lf is None and rf is None:
        return None
    if lf is not None and rf is not None:
        if expr.op == "-" or lf != rf:
            raise CypherSyntaxError(
                "duration difference/mixed-component arithmetic is not "
                "supported; normalize components first"
            )
        return F.struct(
            *(
                (left[f] + right[f]).alias(f)
                for f in ("months", "days", "seconds")
                if f in lf
            ),
            _DUR_TAG_COL(),
        )
    # exactly one side is a duration: orient date on the left
    dcol, durcol, durf, dkind = (
        (left, right, rf, ld) if rf is not None else (right, left, lf, rd)
    )
    if rf is None and expr.op == "-":
        raise CypherSyntaxError("duration - date is not defined")
    if "seconds" in durf or dkind != "date":
        raise CypherSyntaxError(
            "temporal arithmetic supports date ± duration with calendar "
            "components (months/days); seconds-durations and timestamp "
            "operands are not supported"
        )
    months = durcol["months"] if "months" in durf else F.lit(0)
    days = durcol["days"] if "days" in durf else F.lit(0)
    if expr.op == "-":
        months, days = -months, -days
    return F.date_add(F.add_months(dcol, months), days.cast("int"))


def _expr_column(expr, colmap, df: DataFrame) -> Column:
    """RETURN/WITH expression → Column: refs, literals, scalar functions,
    and arithmetic. openCypher's integer division truncates (``1 / 2 = 0``)
    — applied when BOTH operands are provably integer-typed (Spark's ``/``
    is always float); the toward-zero LongType cast matches Java/Neo4j
    truncation for either sign."""
    if isinstance(expr, BinOp):
        left = _expr_column(expr.left, colmap, df)
        right = _expr_column(expr.right, colmap, df)
        if expr.op in ("+", "-") and df is not None:
            dur = _duration_binop(expr, left, right, df)
            if dur is not None:
                return dur
        kl = _operand_kind(expr.left, colmap, df)
        kr = _operand_kind(expr.right, colmap, df)
        if "string" in (kl, kr) or "array" in (kl, kr):
            if expr.op != "+":
                # Cypher defines only + on strings/lists; -,*,/,% on them
                # is a type error in Neo4j — raise OUR error, not Spark's
                raise CypherSyntaxError(
                    f"operator {expr.op!r} is not defined on "
                    "string or list operands"
                )
            if "array" in (kl, kr):
                # list + list concatenates; list + element appends,
                # element + list prepends (Neo4j's list +)
                if kl == "array" and kr == "array":
                    return F.concat(left, right)
                if kl == "array":
                    return F.concat(left, F.array(right))
                return F.concat(F.array(left), right)
            # string concatenation; a non-string side is stringified
            # (Neo4j: 'a' + 1 = 'a1', 1.5 + 'a' = '1.5a')
            return F.concat(
                left if kl == "string" else left.cast("string"),
                right if kr == "string" else right.cast("string"),
            )
        if expr.op == "+":
            return left + right
        if expr.op == "-":
            return left - right
        if expr.op == "*":
            return left * right
        if expr.op == "%":
            return left % right
        if expr.op == "^":
            # Cypher exponentiation always yields a FLOAT (2^2 = 4.0)
            return F.pow(left, right)
        if expr.op in (">", ">=", "<", "<=", "=", "<>"):
            # comparison in expression position (today only the EXISTS {}
            # boolean-expression desugar produces these) — a boolean column
            return {
                ">": left > right, ">=": left >= right,
                "<": left < right, "<=": left <= right,
                "=": left == right, "<>": left != right,
            }[expr.op]
        if _is_integral(expr.left, colmap, df) and _is_integral(
            expr.right, colmap, df
        ):
            return (left / right).cast("long")
        return left / right
    if isinstance(expr, WholeVar):
        var_props = getattr(colmap, "var_props", None)
        if var_props is None or expr.var not in var_props:
            raise CypherSyntaxError(
                f"whole-variable item {expr.var!r} is not supported in "
                "this clause position (pattern variable not in scope)"
            )
        kind = getattr(colmap, "var_kinds", {}).get(expr.var, "node")
        meta = ["label"] if kind == "node" else ["src", "dst", "rel_type"]
        fields = [colmap(PropRef(expr.var, None)).alias("id")]
        fields += [colmap(PropRef(expr.var, m)).alias(m) for m in meta]
        if (
            kind == "node"
            and EXTRA_LABELS in colmap.scope_graph.vertices.columns
        ):
            # carry the extra-label set so labels(n) stays correct after
            # the WITH horizon (multi-label model); absent on graphs that
            # were never label-mutated. Every node variable of a scope
            # carries all of its graph's vertex columns.
            fields.append(
                colmap(PropRef(expr.var, EXTRA_LABELS)).alias(EXTRA_LABELS)
            )
        fields += [
            colmap(PropRef(expr.var, p)).alias(p)
            for p in sorted(var_props[expr.var])
        ]
        # a failed OPTIONAL binding is a NULL variable, not a struct of
        # nulls (Neo4j); a bound node/edge id is never null, so gating
        # on it is exact and free for non-optional scopes
        return F.when(
            colmap(PropRef(expr.var, None)).isNotNull(), F.struct(*fields)
        )
    if isinstance(expr, FieldAccess):
        from pyspark.sql.types import DateType, StructType, TimestampType

        base = _expr_column(expr.base, colmap, df)
        dt = _datatype_of(base, df)
        if isinstance(dt, StructType):
            if expr.name in dt.names:
                return base.getField(expr.name)
            if "crs" in dt.names and expr.name in ("longitude", "latitude"):
                # spatial point accessors: p.longitude == p.x, p.latitude
                # == p.y (Neo4j aliasing on geographic points)
                return base.getField(
                    "x" if expr.name == "longitude" else "y"
                )
            return F.lit(None)  # map-access-on-missing-key reads null
        if expr.name in _TEMPORAL_ACCESSORS and dt is not None:
            is_ts = isinstance(dt, TimestampType) or dt.typeName().startswith(
                "timestamp"
            )
            if is_ts or isinstance(dt, DateType):
                if isinstance(dt, DateType) and expr.name not in _DATE_PARTS:
                    raise CypherSyntaxError(
                        f"{expr.name!r} is a time component; the operand "
                        "is a date (no time of day)"
                    )
                return _TEMPORAL_ACCESSORS[expr.name](base)
        raise CypherSyntaxError(
            f".{expr.name} is not an accessor of this expression's type"
            + (f" ({dt.simpleString()})" if dt is not None else "")
        )
    if isinstance(expr, ListExpr):
        return F.array(*[_expr_column(e, colmap, df) for e in expr.items])
    if isinstance(expr, MapProj):
        var_props = getattr(colmap, "var_props", None)
        structs = getattr(colmap, "structs", {})
        if var_props is not None and expr.var in var_props:
            avail = sorted(var_props[expr.var])
        elif expr.var in structs:
            avail = [f for f in structs[expr.var] if f not in STRUCTURAL]
        else:
            raise CypherSyntaxError(
                f"map projection over unknown variable {expr.var!r}"
            )
        props = avail if expr.props == ("*",) else list(expr.props)
        if not props and not expr.extras:
            raise CypherSyntaxError(
                f"map projection over {expr.var!r} selects no properties"
            )
        fields = [
            _resolve_ref(PropRef(expr.var, p), colmap, df).alias(p)
            for p in props
        ]
        fields += [
            _expr_column(e, colmap, df).alias(k) for k, e in expr.extras
        ]
        return F.struct(*fields)
    if isinstance(expr, CaseExpr):
        col: Column | None = None
        have = set(df.columns)
        for disj, res in expr.whens:
            pred = _where_to_column(disj, colmap, have, df)
            rescol = _expr_column(res, colmap, df)
            col = F.when(pred, rescol) if col is None else col.when(pred, rescol)
        if expr.default is not None:
            col = col.otherwise(_expr_column(expr.default, colmap, df))
        return col
    if isinstance(expr, IsNullExpr):
        col = _expr_column(expr.arg, colmap, df)
        return col.isNotNull() if expr.negated else col.isNull()
    if isinstance(expr, ListComp):
        # [x IN src WHERE pred | mapped] → filter/transform higher-order
        # functions: the lambdas run inside codegen'd JVM expressions (no
        # Python, no explode/re-group shuffle). Loop-variable references
        # resolve to the lambda argument; everything else falls through to
        # the enclosing scope's colmap, so outer columns are usable inside
        # the comprehension (Cypher closure semantics).
        src = _expr_column(expr.source, colmap, df)
        # Cypher: a comprehension over a null (or missing-property) list
        # is null — an UNTYPED null source can't even type the lambda,
        # so short-circuit it instead of failing analysis
        if _dtype_of(src, df) == "void":
            return F.lit(None)
        probe_elem = F.try_element_at(src, F.lit(1))
        sub_of = lambda c: _lambda_colmap(  # noqa: E731
            colmap, {expr.var: c}, {expr.var: probe_elem}
        )
        out = src
        if expr.pred is not None:
            out = F.filter(
                out,
                lambda c: F.coalesce(
                    _where_to_column(expr.pred, sub_of(c), None, df),
                    F.lit(False),
                ),
            )
        if expr.expr is not None:
            out = F.transform(
                out, lambda c: _expr_column(expr.expr, sub_of(c), df)
            )
        return out
    if isinstance(expr, ReduceExpr):
        # reduce(acc = init, x IN src | body) → Spark aggregate(): one
        # JVM fold, no Python. The merge lambda's type probes: the init
        # expression stands in for the accumulator, the source's first
        # element for the loop variable. Spark requires the body's type
        # to equal the accumulator's; Cypher coerces int↔float — a probe
        # twin detects the numeric-widening case and casts the narrow
        # side to double (``reduce(acc = 0, x IN … | acc + x ^ 2)``),
        # and any other mismatch raises OUR typed error instead of a raw
        # analysis exception.
        src = _expr_column(expr.source, colmap, df)
        init = _expr_column(expr.init, colmap, df)
        probe_elem = F.try_element_at(src, F.lit(1))

        def merge(acc, x, init=None):
            sub = _lambda_colmap(
                colmap,
                {expr.acc: acc, expr.var: x},
                {expr.acc: init, expr.var: probe_elem},
            )
            return _expr_column(expr.expr, sub, df)

        ints = {"tinyint", "smallint", "int", "bigint"}
        widen_body = False
        widen_body_int = False
        try:
            init_t = (
                df.select(init.alias("__t")).schema[0].dataType.simpleString()
            )
            body_t = (
                df.select(merge(init, probe_elem, init=init).alias("__t"))
                .schema[0]
                .dataType.simpleString()
            )
        except Exception:
            init_t = body_t = None
        if init_t is not None and body_t is not None and init_t != body_t:
            if init_t in ints and body_t == "double":
                init = init.cast("double")
            elif init_t == "double" and body_t in ints:
                widen_body = True
            elif init_t in ints and body_t in ints:
                # integer-width mismatch (``reduce(s = 0, x IN <bigint
                # list> | s + x)`` — the literal 0 types int, the body
                # bigint): widen both sides, Cypher integers are 64-bit
                init = init.cast("bigint")
                widen_body_int = True
            else:
                raise CypherSyntaxError(
                    f"reduce() body type {body_t} does not match the "
                    f"accumulator's {init_t}; make the init and body the "
                    "same type"
                )

        def merge2(acc, x):
            out = merge(acc, x, init=init)
            if widen_body:
                return out.cast("double")
            if widen_body_int:
                return out.cast("bigint")
            return out

        return F.aggregate(src, init, merge2)
    if isinstance(expr, IndexExpr):
        # list[i]: 0-based, negative-from-end, null when out of range —
        # try_element_at is 1-based with native negative support
        src = _expr_column(expr.base, colmap, df)
        if isinstance(expr.index, int):
            i = expr.index
            return F.try_element_at(src, F.lit(i + 1 if i >= 0 else i))
        idx = _expr_column(expr.index, colmap, df).cast("int")
        return F.when(
            idx >= 0, F.try_element_at(src, idx + F.lit(1))
        ).otherwise(F.try_element_at(src, idx))
    if isinstance(expr, SliceExpr):
        # list[from..to]: half-open, 0-based, negative-from-end, clamped
        # to the list bounds (Neo4j's contract) — pure column arithmetic
        # over size(), one JVM slice()
        src = _expr_column(expr.base, colmap, df)
        size = F.size(src)

        def norm(bound, default):
            if bound is None:
                return default
            b = _expr_column(bound, colmap, df).cast("int")
            b = F.when(b >= 0, b).otherwise(size + b)
            return F.greatest(F.lit(0), F.least(size, b))

        lo = norm(expr.lo, F.lit(0))
        hi = norm(expr.hi, size)
        return F.slice(src, lo + F.lit(1), F.greatest(F.lit(0), hi - lo))
    if isinstance(expr, RawCol):
        return F.col(expr.name)
    if isinstance(expr, MapLit):
        if not expr.entries:
            raise CypherSyntaxError(
                "empty map literals are not supported; give the map at "
                "least one key"
            )
        return F.struct(
            *[
                _expr_column(v, colmap, df).alias(k)
                for k, v in expr.entries
            ]
        )
    if isinstance(expr, AggCall):
        # safety net: an aggregate that escaped both the parser's
        # predicate-position rejection and the projection decomposition
        # must never compile silently
        raise CypherSyntaxError(
            "aggregates are not valid in this clause position; compute "
            "the aggregate in a WITH stage first"
        )
    if isinstance(expr, CountPattern):
        raise CypherSyntaxError(
            "COUNT { } subqueries are only supported in RETURN/WITH "
            "items and WHERE over a MATCHed or WITH-carried node"
        )
    if isinstance(expr, PatternComp):
        raise CypherSyntaxError(
            "pattern comprehensions are only supported in RETURN/WITH "
            "items and WHERE over a MATCHed or WITH-carried node; "
            "compute the list in a WITH stage first"
        )
    if isinstance(expr, FuncCall):
        return _scalar_fn_column(expr, colmap, df)
    if isinstance(expr, (PropRef, BareRef)):
        # same missing-property-reads-null contract as WHERE and the
        # scalar-function operands: `RETURN n.nickname` on a property no
        # write ever created is a null column, not an analysis error
        return _resolve_ref(expr, colmap, df)
    return F.lit(expr)


def _order_columns(
    order: list[tuple],
    items: list[ReturnItem],
    clause: str,
    df: DataFrame | None = None,
) -> list[Column]:
    """Resolve ORDER BY keys against a projection: a string key is a
    projected alias/default name; a PropRef/AggCall key (``ORDER BY
    n.prop`` / ``ORDER BY count(*)``) must equal a projected item's
    expression and sorts by that item's output column (Neo4j's
    sort-by-projected-expression idiom). A scalar-function key (``ORDER
    BY toLower(name)``) sorts by its projected twin when one exists, else
    computes the expression over the projected frame's output names."""
    names = {_out_name(i) for i in items}
    cols: list[Column] = []
    for key, asc in order:
        if isinstance(key, (FuncCall, BinOp, CaseExpr)):
            match = next((i for i in items if i.expr == key), None)
            if match is not None:
                cols.append(_order_dir(F.col(_out_name(match)), asc))
                continue
            if df is None:
                raise CypherSyntaxError(
                    f"computed ORDER BY keys are not supported in this "
                    f"{clause} position"
                )
            col = _expr_column(
                key, _bare_colmap(names, _struct_outputs(df), df), df
            )
            cols.append(_order_dir(col, asc))
            continue
        if isinstance(key, (PropRef, AggCall)):
            match = next((i for i in items if i.expr == key), None)
            if match is None and isinstance(key, PropRef) and df is not None:
                # ORDER BY n.prop where the projection carries the WHOLE
                # variable (``WITH n ORDER BY n.born``) — sorts by the
                # struct field; a field no write ever created sorts as
                # null (Cypher's missing-property contract)
                base = next(
                    (
                        i
                        for i in items
                        if (
                            isinstance(i.expr, (WholeVar, MapProj))
                            and i.expr.var == key.var
                        )
                        or _out_name(i) == key.var
                    ),
                    None,
                )
                if base is not None:
                    fields = _struct_outputs(df).get(_out_name(base))
                    if fields is not None:
                        if key.prop not in fields and isinstance(
                            base.expr, MapProj
                        ):
                            # a map projection DROPPED the sort property —
                            # sorting by null here would silently diverge
                            # from Neo4j (which still sees the variable)
                            raise CypherSyntaxError(
                                f"ORDER BY {key.var}.{key.prop}: add "
                                f".{key.prop} to the map projection (the "
                                "projected map does not carry it)"
                            )
                        col = (
                            F.col(_out_name(base)).getField(key.prop)
                            if key.prop in fields
                            else F.lit(None)
                        )
                        cols.append(_order_dir(col, asc))
                        continue
            if match is None:
                desc = (
                    f"{key.var}.{key.prop}"
                    if isinstance(key, PropRef)
                    else f"{key.fn.lower()}(...)"
                )
                raise CypherSyntaxError(
                    f"ORDER BY {desc} must reference a {clause} column"
                )
            name = _out_name(match)
        else:
            if key not in names:
                raise CypherSyntaxError(
                    f"ORDER BY {key!r} must reference a {clause} column"
                )
            name = key
        cols.append(_order_dir(F.col(name), asc))
    return cols


def _order_dir(col: Column, asc: bool) -> Column:
    """Cypher ORDER BY direction: null sorts as the LARGEST value (asc →
    nulls last, desc → nulls first) — Neo4j's contract; Spark's bare
    asc()/desc() default the other way around."""
    return col.asc_nulls_last() if asc else col.desc_nulls_first()


def _order_specs(order: list[tuple], items: list[ReturnItem]) -> list[tuple]:
    """Rewrite a WITH stage's ORDER BY keys into specs resolvable AGAINST
    THE STAGE'S OUTPUT scope — the row-order metadata a later ``collect()``
    consumes (Neo4j: collect after ``WITH ... ORDER BY`` observes the
    sorted row order; Spark's groupBy does not, so collect must re-sort by
    these keys). A key matching a projected item becomes that item's
    output name; ``ORDER BY n.prop`` over a carried whole variable becomes
    a struct-field ref; computed keys already read output names."""
    specs: list[tuple] = []
    for key, asc in order:
        if isinstance(key, str):
            specs.append((BareRef(key), asc))
            continue
        match = next((i for i in items if i.expr == key), None)
        if match is not None:
            specs.append((BareRef(_out_name(match)), asc))
            continue
        if isinstance(key, PropRef):
            base = next(
                (
                    i
                    for i in items
                    if (
                        isinstance(i.expr, (WholeVar, MapProj))
                        and i.expr.var == key.var
                    )
                    or _out_name(i) == key.var
                ),
                None,
            )
            if base is not None:
                specs.append((PropRef(_out_name(base), key.prop), asc))
                continue
        specs.append((key, asc))
    return specs


def _specs_columns(specs: list[tuple], colmap, df: DataFrame) -> list[Column]:
    """Materialize row-order specs as sort Columns against the current
    scope — the physical form of a deferred WITH ... ORDER BY."""
    return [
        _order_dir(_expr_column(ast, colmap, df), asc) for ast, asc in specs
    ]


def _remap_specs(
    specs: list[tuple], items: list[ReturnItem]
) -> list[tuple] | None:
    """Carry row-order metadata across a plain (non-aggregating,
    non-DISTINCT) WITH projection: each key must survive into the new
    scope — as a projected item (renamed to its output name) or as a
    property of a carried struct. Any key falling out of scope drops the
    metadata entirely (order no longer provable — collect falls back to
    the sorted-by-value determinism contract, never a silent wrong
    order)."""
    out: list[tuple] = []
    for ast, asc in specs:
        match = next((i for i in items if i.expr == ast), None)
        if match is not None:
            out.append((BareRef(_out_name(match)), asc))
            continue
        if isinstance(ast, PropRef):
            base = next(
                (
                    i
                    for i in items
                    if isinstance(i.expr, BareRef) and i.expr.name == ast.var
                ),
                None,
            )
            if base is not None:
                out.append((PropRef(_out_name(base), ast.prop), asc))
                continue
        return None
    return out


def _default_name(ref: PropRef | BareRef | AggCall | FuncCall) -> str:
    if isinstance(ref, BinOp):
        raise CypherSyntaxError(
            "an arithmetic RETURN/WITH item needs an AS alias"
        )
    if isinstance(ref, CaseExpr):
        raise CypherSyntaxError("a CASE RETURN/WITH item needs an AS alias")
    if isinstance(ref, (WholeVar, MapProj)):
        return ref.var
    if not isinstance(ref, (PropRef, BareRef, AggCall, FuncCall)):
        raise CypherSyntaxError("a literal RETURN/WITH item needs an AS alias")
    if isinstance(ref, FuncCall):
        if not isinstance(ref.arg, (PropRef, BareRef, AggCall, FuncCall)):
            return ref.fn  # literal first operand (e.g. coalesce('x', ...))
        return f"{ref.fn}_{_default_name(ref.arg)}"
    if isinstance(ref, AggCall):
        if ref.arg is None:
            return "count"
        if isinstance(ref.arg, BareRef):
            return f"{ref.fn.lower()}_{ref.arg.name}"
        if isinstance(ref.arg, WholeVar):
            return f"{ref.fn.lower()}_{ref.arg.var}"
        if not isinstance(ref.arg, PropRef):
            # sum(<computed expression>) has no derivable column name
            raise CypherSyntaxError(
                f"{ref.fn.lower()}() over a computed expression needs "
                "an AS alias"
            )
        return f"{ref.fn.lower()}_{ref.arg.var}_{ref.arg.prop or 'id'}"
    if isinstance(ref, BareRef):
        return ref.name
    return f"id_{ref.var}" if ref.prop is None else f"{ref.var}_{ref.prop}"


# collect() materializes the group's values as a list. openCypher leaves
# element order unspecified; emitting it SORTED makes the result a value
# (layout-independent) rather than an accident of partition order — the
# same determinism contract the rest of the engine keeps.
_AGG_FN_MAP = {
    "COUNT": F.count,
    "SUM": F.sum,
    "AVG": F.avg,
    "MIN": F.min,
    "MAX": F.max,
    "COLLECT": lambda c: F.array_sort(F.collect_list(c)),
    # Neo4j stdev() is the sample form, stdevp() the population form
    "STDEV": F.stddev_samp,
    "STDEVP": F.stddev_pop,
}

#: DISTINCT inside an aggregate (count(DISTINCT x), collect(DISTINCT x),
#: ...). AVG has no *_distinct builtin: exact sum_distinct/count_distinct
#: quotient. MIN/MAX are distinct-invariant. collect_set + array_sort keeps
#: the sorted-list determinism contract.
_AGG_FN_DISTINCT_MAP = {
    "COUNT": F.count_distinct,
    "SUM": F.sum_distinct,
    "AVG": lambda c: F.sum_distinct(c) / F.count_distinct(c),
    "MIN": F.min,
    "MAX": F.max,
    "COLLECT": lambda c: F.array_sort(F.collect_set(c)),
}


def _ordered_collect(
    value: Column, specs: list[tuple], colmap, df: DataFrame, distinct: bool
) -> Column:
    """collect() under a preceding ``WITH ... ORDER BY``: Neo4j's list
    follows the sorted row order, but Spark's groupBy forgets it — so the
    keys ride along in a struct and an ``array_sort`` comparator restores
    them post-aggregation (pure JVM; no extra shuffle). Null keys sort
    largest (Neo4j), null VALUES are skipped (Cypher collect), and the
    value itself is the final tiebreaker so the result stays a
    layout-independent VALUE even when keys tie."""
    keys = [(_expr_column(ast, colmap, df), asc) for ast, asc in specs]
    fields = [k.alias(f"__k{i}") for i, (k, _) in enumerate(keys)]
    fields.append(value.alias("__v"))
    arr = F.collect_list(F.when(value.isNotNull(), F.struct(*fields)))

    def cmp(left: Column, right: Column) -> Column:
        lv, rv = left["__v"], right["__v"]
        res = (
            F.when(lv < rv, F.lit(-1)).when(lv > rv, F.lit(1)).otherwise(F.lit(0))
        )
        for i in range(len(keys) - 1, -1, -1):
            asc = keys[i][1]
            lk, rk = left[f"__k{i}"], right[f"__k{i}"]
            res = (
                F.when(lk.isNull() & rk.isNull(), res)
                .when(lk.isNull(), F.lit(1 if asc else -1))
                .when(rk.isNull(), F.lit(-1 if asc else 1))
                .when(lk < rk, F.lit(-1 if asc else 1))
                .when(lk > rk, F.lit(1 if asc else -1))
                .otherwise(res)
            )
        return res

    out = F.transform(F.array_sort(arr, cmp), lambda x: x["__v"])
    # collect(DISTINCT x) after ORDER BY: duplicates are adjacent in the
    # sorted list, and array_distinct keeps first occurrences — so the
    # distinct list stays in key order
    return F.array_distinct(out) if distinct else out


def _agg_column(call: AggCall, colmap, df: DataFrame) -> Column:
    if call.arg is None:
        return F.count(F.lit(1))
    row_order = getattr(colmap, "row_order", None)
    if call.fn == "COLLECT" and row_order:
        if isinstance(call.arg, WholeVar):
            idcol = colmap(PropRef(call.arg.var, None))
            value = F.when(
                idcol.isNotNull(), _expr_column(call.arg, colmap, df)
            )
            return _ordered_collect(value, row_order, colmap, df, call.distinct)
        if len(row_order) == 1 and row_order[0][0] == call.arg:
            # collect(k) under ``WITH … ORDER BY k`` — the canonical
            # "collect the ordering key" idiom. The general comparator is
            # (key dir, nulls largest, value-asc tiebreak) evaluated as an
            # INTERPRETED lambda per comparison; with key ≡ value the null
            # branches are dead (null values never enter the list — the
            # same pre-collect gate both paths apply) and ties are equal
            # elements, so plain sort_array in the key direction is
            # provably the identical list and sorts through codegen'd
            # binary comparisons instead (measured 3x on a 60k-member
            # group).
            value = _expr_column(call.arg, colmap, df)
            out = F.sort_array(F.collect_list(value), asc=row_order[0][1])
            return F.array_distinct(out) if call.distinct else out
        value = _expr_column(call.arg, colmap, df)
        return _ordered_collect(value, row_order, colmap, df, call.distinct)
    if isinstance(call.arg, WholeVar):
        # collect(n): the whole-variable struct, null where the binding
        # itself is null (failed OPTIONAL MATCH) so collect skips it like
        # Neo4j — a struct of null fields is not itself null, hence the
        # explicit id-null gate.
        idcol = colmap(PropRef(call.arg.var, None))
        col = F.when(idcol.isNotNull(), _expr_column(call.arg, colmap, df))
        fns = _AGG_FN_DISTINCT_MAP if call.distinct else _AGG_FN_MAP
        return fns[call.fn](col)
    # _expr_column resolves refs with the missing-property-reads-null
    # contract AND compiles computed arguments (``sum(l.price * (1 -
    # l.disc))``, ``sum(CASE … END)``) — same expression grammar as a
    # projection item, evaluated per pre-aggregation row
    col = _expr_column(call.arg, colmap, df)
    if call.fn == "PERCENTILECONT":
        # exact linear-interpolated percentile (Neo4j percentileCont)
        return F.percentile(col, F.lit(call.extra[0]))
    if call.fn == "PERCENTILEDISC":
        # nearest actual value (Neo4j percentileDisc): percentile_approx
        # at maximum accuracy is exact and returns a data element
        return F.percentile_approx(col, F.lit(call.extra[0]), F.lit(2147483647))
    fns = _AGG_FN_DISTINCT_MAP if call.distinct else _AGG_FN_MAP
    return fns[call.fn](col)


#: a colmap output that is a bare column reference (every node/edge colmap
#: returns plain ``F.col(name)``; computed columns never match this shape)
_PLAIN_COL_RE = re.compile(r"Column<'([A-Za-z_][A-Za-z0-9_]*)'>")


def _plain_name(col: Column) -> str | None:
    """The underlying column name iff ``col`` is a bare reference."""
    m = _PLAIN_COL_RE.fullmatch(str(col))
    return m.group(1) if m else None


def _ref_is_missing(
    ref, colmap, have: set[str], col: Column | None = None
) -> bool:
    """Neo4j semantics: reading a property that no write ever created
    yields null, NOT an error (openCypher §"property access on missing
    keys"). Our vertex frame only has columns some write created, so a
    resolved-but-absent plain column reference means "property never set
    on any node" — detectable pre-analysis. WITH-stage colmaps validate
    names themselves and raise first, so they never reach this check."""
    if not isinstance(ref, (PropRef, BareRef)):
        return False
    lam = getattr(colmap, "lambda_vars", ())
    if (isinstance(ref, BareRef) and ref.name in lam) or (
        isinstance(ref, PropRef) and ref.var in lam
    ):
        return False  # comprehension loop variable — always bound
    name = _plain_name(colmap(ref) if col is None else col)
    return name is not None and name not in have


def _resolve_ref(ref, colmap, df: DataFrame) -> Column:
    """Column for one RETURN/WITH ref with missing-property-reads-null
    semantics — the single resolution point every projection path shares
    (WHERE has its own tri-state handling in :func:`_where_to_column`)."""
    col = colmap(ref)
    if _ref_is_missing(ref, colmap, set(df.columns), col):
        return F.lit(None)
    return col


def _where_to_column(
    disj: list[list[Cond]],
    colmap,
    have: set[str] | None = None,
    df: DataFrame | None = None,
) -> Column:
    ops = {
        "=": lambda c, v: c == v,
        "<>": lambda c, v: c != v,
        "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
        ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
    }
    string_ops = {
        "STARTS WITH": lambda c, v: c.startswith(v),
        "ENDS WITH": lambda c, v: c.endswith(v),
        "CONTAINS": lambda c, v: c.contains(v),
        # Neo4j =~ matches the ENTIRE string (java.util.regex.matches),
        # where Spark rlike is an unanchored search — anchor it
        "=~": lambda c, v: c.rlike(f"^(?:{v})$"),
    }
    null_ops = {
        "IS NULL": lambda c: c.isNull(),
        "IS NOT NULL": lambda c: c.isNotNull(),
    }

    def missing(ref) -> bool:
        return have is not None and _ref_is_missing(ref, colmap, have)

    def opcol(x) -> Column:
        # computed operands (scalar functions, arithmetic, CASE) need the
        # frame for type dispatch; WHERE positions without one keep the
        # plain-reference contract
        if isinstance(x, (PropRef, BareRef)):
            return colmap(x)
        if df is None:
            raise CypherSyntaxError(
                "computed operands are not supported in this WHERE position"
            )
        return _expr_column(x, colmap, df)

    out: Column | None = None
    for conj in disj:
        cc: Column | None = None
        for cond in conj:
            if isinstance(cond, PatternCond):
                raise CypherSyntaxError(
                    "pattern predicates are only supported in the WHERE of "
                    "a single-MATCH node query"
                )
            right = (
                opcol(cond.right)
                if isinstance(
                    cond.right,
                    (
                        PropRef, BareRef, FuncCall, BinOp, CaseExpr,
                        FieldAccess, IndexExpr, SliceExpr, ListComp,
                        ReduceExpr, CountPattern, PatternComp,
                    ),
                )
                else cond.right
            )
            if isinstance(right, list) and cond.op != "IN":
                # list-literal comparison against a list-valued column
                # (``WHERE xs = ['a', 'b']``): an array literal, so the
                # comparison stays a JVM expression
                right = F.array(*[F.lit(v) for v in right])
            if cond.op in null_ops and missing(cond.left):
                one = F.lit(cond.op == "IS NULL")
            elif cond.op not in null_ops and (
                missing(cond.left) or missing(cond.right)
            ):
                # any comparison/IN/string op on an always-null operand is
                # null in Cypher: the row never passes the WHERE
                one = F.lit(None).cast("boolean")
            elif cond.op == "IN":
                # empty list literal: openCypher `x IN []` is never true
                one = (
                    opcol(cond.left).isin(*cond.right)
                    if cond.right
                    else F.lit(False)
                )
            elif cond.op == "IN_EXPR":
                # membership in a list-valued expression: null list or
                # null element stays null (3VL), like Cypher's IN. A
                # non-list operand is a Neo4j type error — probe and
                # raise typed (use CONTAINS for substring tests)
                if df is not None:
                    try:
                        rt = (
                            df.select(right.alias("__t"))
                            .schema[0]
                            .dataType.simpleString()
                        )
                    except Exception:
                        rt = None
                    if rt is not None and not rt.startswith("array"):
                        raise CypherSyntaxError(
                            f"IN requires a list operand; got {rt} — "
                            "use CONTAINS for substring tests"
                        )
                one = F.array_contains(right, opcol(cond.left))
            elif cond.op in string_ops:
                one = string_ops[cond.op](opcol(cond.left), right)
            elif cond.op == "TRUTHY":
                c = opcol(cond.left)
                if df is not None:
                    # Neo4j raises a type error on a non-boolean bare
                    # predicate (WHERE n.count); Spark's implicit cast
                    # would silently match value-1 rows instead — probe
                    # the operand dtype (analysis only, no job) and keep
                    # the raises-rather-than-mis-answers contract. Lambda
                    # variables (comprehension WHERE) cannot be analyzed
                    # against the frame — skip the probe there.
                    try:
                        dtype = (
                            df.select(c.alias("__t"))
                            .schema[0]
                            .dataType.simpleString()
                        )
                    except Exception:
                        dtype = None
                    if dtype is not None and dtype != "boolean":
                        raise CypherSyntaxError(
                            "bare predicate must be boolean; got "
                            f"{dtype} — write an explicit comparison"
                        )
                one = c == F.lit(True)
            elif cond.op in null_ops:
                one = null_ops[cond.op](opcol(cond.left))
            else:
                one = ops[cond.op](opcol(cond.left), right)
            if cond.negated:
                one = ~one  # three-valued: NOT null stays null
            cc = one if cc is None else (cc & one)
        out = cc if out is None else (out | cc)
    assert out is not None
    return out


def _common_single_var_conds(
    disjs: "list[list[list[Cond]]]", var: str | None
) -> list[Cond] | None:
    """Conjuncts referencing ONLY ``var`` that appear in EVERY OR branch
    of one of the DNF WHEREs ``disjs`` (the scope's clause WHEREs, all
    ANDed) — the subset that is IMPLIED by the full predicate and
    therefore safe to push ahead of an iterative translation (frontier
    BFS, unbounded expansion). Catalyst pushes filters through lazy
    relational plans on its own, but it cannot see through the
    per-round ``localCheckpoint``/count boundaries of the iterative
    operators — without this manual pushdown, ``shortestPath((a:L {k: v})
    -[*]->(b))`` BFSes from EVERY a-label node and filters at the end,
    which is the difference between one source and 10^8 sources at scale.
    The full WHERE still applies after translation (idempotent)."""
    out: list[Cond] = []
    for disj in disjs if var is not None else ():
        common: dict[str, Cond] = {}
        for i, conj in enumerate(disj):
            keys: dict[str, Cond] = {}
            for cond in conj:
                if not isinstance(cond, Cond):
                    continue
                refs: set[str] = set()
                _expr_vars(cond.left, refs)
                _expr_vars(getattr(cond, "right", None), refs)
                if refs == {var}:
                    keys[repr(cond)] = cond
            if i == 0:
                common = keys
            else:
                common = {k: v for k, v in common.items() if k in keys}
        out.extend(common.values())
    return out or None


def _src_prefilter(
    graph: PropertyGraph, df: DataFrame, var: str, conds: list[Cond]
) -> DataFrame:
    """Apply pushed-down single-variable conjuncts to a vertex frame of
    ``graph``, resolved through the node's own scope (3VL: null
    predicates do not match, same as the post-translation WHERE)."""
    colmap = _scope_colmap(graph, {var: ("node", "")})
    return df.filter(_where_to_column([list(conds)], colmap, set(df.columns), df))


def _path_edges(graph: PropertyGraph, pat: EdgePat) -> DataFrame:
    """The ``(id, src, dst)`` edge frame a variable-length expansion or
    the shortestPath BFS walks, filtered to the pattern's relationship
    types. An undirected pattern walks both stored orientations
    (:func:`_both_orientations`), so an undirected self-loop matches once.
    Edge ids are preserved, so the relationship-isomorphism filters (the
    pairwise id inequality, the ``array_contains`` visited check) use a
    relationship at most once per path in either direction."""
    e = graph.edges
    if pat.rel_type is not None:
        e = e.filter(rel_type_cond(pat.rel_type))
    e = e.select("id", "src", "dst")
    if pat.undirected:
        e = _both_orientations(
            e,
            e.select("id", F.col("dst").alias("src"), F.col("src").alias("dst")),
            F.col("src"),
            F.col("dst"),
        )
    return e


def _walk_edges(
    graph: PropertyGraph, pat: EdgePat, narrow: bool
) -> tuple[DataFrame, int]:
    """The edge frame an iterative path kernel walks — :func:`_path_edges`,
    cut to ``(src, dst)`` when ``narrow`` — checkpointed and counted ONCE
    per edge frame (:func:`~flink_neo4j_spark.catalog.frame_memo`): every
    shortestPath or unbounded ``*`` over the same graph reuses it, and a
    write's new graph builds its own. The checkpoint is lazy; the count
    materializes it. Returns ``(edges, row count)``."""
    from flink_neo4j_spark.catalog import frame_memo

    def build() -> tuple[DataFrame, int]:
        e = _path_edges(graph, pat)
        if narrow:
            e = e.select("src", "dst")
        e = e.localCheckpoint(eager=False)
        return e, e.count()

    key = ("walk_edges", pat.rel_type, pat.undirected, narrow)
    return frame_memo(graph.edges, key, build)


def _varlength_paths(
    graph: PropertyGraph,
    pat: EdgePat,
    sp: str,
    dp: str,
    pp: str,
    carry_paths: bool = False,
    src_conds: list[Cond] | None = None,
) -> DataFrame:
    """``(a)-[:T*lo..hi]->(b)`` as a union of fixed-length edge-join chains.

    One chain per path length L: ``e1.src = a.id``, ``e_{k+1}.src =
    e_k.dst``, ``b.id = e_L.dst`` — all equi-joins Catalyst can broadcast /
    AQE-plan. Cypher's relationship-isomorphism (no edge repeats within a
    path) is enforced with pairwise edge-id inequality filters, exact for
    the bounded hop counts this front end admits (MAX_VAR_HOPS). Row
    multiplicity = number of distinct paths, matching Cypher.

    Columns: the endpoints' vertex columns prefixed ``sp`` / ``dp``, the
    path length ``{pp}length`` and, with ``carry_paths``, the node / edge
    id arrays ``{pp}__nodes`` / ``{pp}__rels`` (what ``length(p)``,
    ``nodes(p)`` and ``relationships(p)`` read) — free here: the hop
    columns already exist per chain, the arrays are pure projection.

    Unbounded specs (``hi=None`` from ``*`` / ``*lo..``) dispatch to the
    iterative frontier expansion — same output contract, drain-or-raise.
    """
    lo, hi = pat.hops
    if hi is None:
        return _varlength_paths_unbounded(
            graph, pat, lo, sp, dp, pp, carry_paths, src_conds
        )
    # bounded chains are fully lazy relational plans: Catalyst pushes the
    # post-translation WHERE into the a-side scan itself, so no manual
    # prefilter is needed here (src_conds is consumed by the ITERATIVE
    # forms, where per-round actions block that pushdown)
    e = _path_edges(graph, pat)
    vcols = graph.vertices.columns
    a = prefixed(graph.nodes(pat.src.label), sp, vcols)
    b = prefixed(graph.nodes(pat.dst.label), dp, vcols)
    ends = [*[f"{sp}{c}" for c in vcols], *[f"{dp}{c}" for c in vcols]]
    out: DataFrame | None = None
    for length in range(lo, hi + 1):
        if length == 0:
            # zero-length path: both endpoints are the SAME node, which
            # must satisfy BOTH sides' labels; the rel type is ignored
            # (openCypher). One equi-join on id — label scans broadcast.
            chain = a.join(b, F.col(f"{sp}id") == F.col(f"{dp}id"))
            extra = []
            if carry_paths:
                extra = [
                    F.array(F.col(f"{sp}id")).alias(f"{pp}__nodes"),
                    F.array().cast("array<bigint>").alias(f"{pp}__rels"),
                ]
        else:
            hops = [
                prefixed(e, f"__h{k}_", ["id", "src", "dst"])
                for k in range(length)
            ]
            chain = a.join(hops[0], F.col(f"{sp}id") == F.col("__h0_src"))
            for k in range(1, length):
                chain = chain.join(
                    hops[k], F.col(f"__h{k - 1}_dst") == F.col(f"__h{k}_src")
                )
            for i in range(length):  # relationship-isomorphism
                for j in range(i + 1, length):
                    chain = chain.filter(
                        F.col(f"__h{i}_id") != F.col(f"__h{j}_id")
                    )
            chain = chain.join(
                b, F.col(f"__h{length - 1}_dst") == F.col(f"{dp}id")
            )
            extra = []
            if carry_paths:
                extra = [
                    F.array(
                        F.col(f"{sp}id"),
                        *[F.col(f"__h{k}_dst") for k in range(length)],
                    ).alias(f"{pp}__nodes"),
                    F.array(
                        *[F.col(f"__h{k}_id") for k in range(length)]
                    ).alias(f"{pp}__rels"),
                ]
        chain = chain.select(
            *ends, F.lit(length).alias(f"{pp}length"), *extra
        )
        out = chain if out is None else out.unionByName(chain)
    return out


def _varlength_paths_unbounded(
    graph: PropertyGraph,
    pat: EdgePat,
    lo: int,
    sp: str,
    dp: str,
    pp: str,
    carry_paths: bool,
    src_conds: list[Cond] | None,
) -> DataFrame:
    """``(a)-[:T*]->(b)`` / ``*lo..`` — the reachability idiom every Neo4j
    user types — as an ITERATIVE frontier expansion (the g6/g31 frontier
    machinery applied to path enumeration; round-6 verdict ask #3).

    Semantics match Cypher exactly: one row per distinct path, no edge
    repeated within a path (relationship isomorphism — which is also the
    mathematical termination guarantee: a path holds ≤|E| edges). State is
    one row per LIVE partial path carrying its edge-id array; each round is
    ONE equi-join of the frontier head against the edge list plus a JVM
    ``array_contains`` filter — no Python, no driver-side path handling.
    The hops run on ``tuning.frontier_levels`` (no settled keys: every
    partial path is kept), whose per-hop frontier count doubles as the
    loud guard: a frontier past
    ``VAR_UNBOUNDED_MAX_FRONTIER`` rows or a graph whose paths outlive
    ``VAR_UNBOUNDED_MAX_ROUNDS`` raises instead of OOMing — dense
    components make path COUNTS exponential, and that is a property of the
    query, not the engine; the guard converts it from a data surprise into
    a conscious limit.

    Output contract is identical to the bounded union-of-chains frame
    (see :func:`_varlength_paths`).
    """
    vcols = graph.vertices.columns
    a_src = graph.nodes(pat.src.label)
    if src_conds and pat.src.var is not None:
        # pushed-down source predicate: the expansion starts from the
        # MATCHED sources only (see _common_single_var_conds)
        a_src = _src_prefilter(graph, a_src, pat.src.var, src_conds)
    # level 0: the zero-length path of every source
    seeds = a_src.select(
        F.col("id").alias("__a"),
        F.col("id").alias("__cur"),
        F.array().cast("array<bigint>").alias("__rels"),
        F.array("id").alias("__nodes"),
        F.lit(0).alias("__len"),
    )
    # the edge list is checkpointed ONCE per graph and the kernel sized
    # by max(|e|, frontier), so a tiny frontier on a huge graph never
    # forces the edge shuffle narrow; rows carry node/edge-id arrays,
    # hence the smaller PATH_STATE_ROWS_PER_PARTITION target
    from flink_neo4j_spark.tuning import frontier_levels, iter_kernel

    e, n_e = _walk_edges(graph, pat, narrow=False)
    with iter_kernel(
        e.sparkSession, n_e, rows_per_partition=PATH_STATE_ROWS_PER_PARTITION
    ) as k:

        def expand(frontier: DataFrame) -> DataFrame:
            return (
                frontier.join(k.bc(e), F.col("__cur") == F.col("src"))
                .filter(~F.array_contains("__rels", F.col("id")))
                .select(
                    "__a",
                    F.col("dst").alias("__cur"),
                    F.concat("__rels", F.array("id")).alias("__rels"),
                    F.concat("__nodes", F.array("dst")).alias("__nodes"),
                    (F.col("__len") + 1).alias("__len"),
                )
            )

        undrained = RuntimeError(
            "unbounded variable-length expansion did not drain within "
            f"{VAR_UNBOUNDED_MAX_ROUNDS} hops; bound the pattern "
            "(*lo..hi) or raise VAR_UNBOUNDED_MAX_ROUNDS consciously"
        )
        # *0..: the zero-length path binds both endpoints to the same
        # node (dst label enforced by the final b-join, per openCypher)
        parts = [seeds] if lo == 0 else []
        # a broadcast expand keeps its input's partitioning, so every
        # level inherits the seeds' width: start it at the kernel's
        for hop, (level, n) in enumerate(
            frontier_levels(
                k, seeds.coalesce(k.width), expand,
                VAR_UNBOUNDED_MAX_ROUNDS, n_e, undrained=undrained,
            ),
            1,
        ):
            if n > VAR_UNBOUNDED_MAX_FRONTIER:
                raise RuntimeError(
                    f"unbounded variable-length expansion frontier hit {n} "
                    f"partial paths (cap {VAR_UNBOUNDED_MAX_FRONTIER}) at "
                    f"hop {hop} — the pattern enumerates exponentially "
                    "many paths on this graph; bound it (*lo..hi) or use "
                    "shortestPath()"
                )
            parts.append(level)
    if not parts:  # no a-labeled node has an outgoing edge: empty result
        parts = [seeds.limit(0)]
    paths = parts[0]
    for part in parts[1:]:
        paths = paths.unionByName(part)
    if lo > 1:
        paths = paths.filter(F.col("__len") >= lo)
    a = prefixed(graph.nodes(pat.src.label), sp, vcols)
    b = prefixed(graph.nodes(pat.dst.label), dp, vcols)
    extra = (
        [F.col("__nodes").alias(f"{pp}__nodes"),
         F.col("__rels").alias(f"{pp}__rels")]
        if carry_paths
        else []
    )
    return (
        paths.join(a, F.col("__a") == F.col(f"{sp}id"))
        .join(b, F.col("__cur") == F.col(f"{dp}id"))
        .select(
            *[f"{sp}{c}" for c in vcols],
            *[f"{dp}{c}" for c in vcols],
            F.col("__len").alias(f"{pp}length"),
            *extra,
        )
    )


#: the accessors a path variable answers — ``length(p)``, ``nodes(p)``,
#: ``relationships(p)`` parse to these PropRef sentinels
_PATH_PROPS = ("length", "__nodes", "__rels")


def _scope_colmap(graph: PropertyGraph, scope: dict[str, tuple[str, str]]):
    """The colmap of a MATCH scope: every pattern variable's columns sit
    on one frame under the variable's own prefix (``scope``: var ->
    (kind, prefix), kind ``node``, ``edge`` or ``path``). A reference
    resolves to ``<prefix><prop>`` (``<prefix>id`` for the variable
    itself), so only an unknown VARIABLE raises: a property no write ever
    created names an absent column, which the shared
    :func:`_ref_is_missing` rule reads as null. Path variables answer
    their accessors only. ``var_props``/``var_kinds``/``scope_graph``
    serve whole-variable projection, ``*`` expansion, pattern predicates
    and COUNT { } / comprehension binding. Each column reference is built
    once and reused: a Column is immutable, and building one costs a
    dozen py4j round trips."""
    cols: dict[str, Column] = {}

    def colmap(ref) -> Column:
        v = ref.var if isinstance(ref, PropRef) else getattr(ref, "name", None)
        prop = ref.prop if isinstance(ref, PropRef) else None
        hit = scope.get(v)
        if hit is None:
            raise CypherSyntaxError(f"unknown variable {v!r}")
        kind, prefix = hit
        if kind == "path" and prop not in _PATH_PROPS:
            raise CypherSyntaxError(
                f"only length({v}), nodes({v}) and relationships({v}) are "
                "defined for a path variable"
            )
        name = f"{prefix}{prop or 'id'}"
        if name not in cols:
            cols[name] = F.col(name)
        return cols[name]

    colmap.scope = dict(scope)
    colmap.var_kinds = {v: k for v, (k, _) in scope.items() if k != "path"}
    colmap.var_props = {
        v: [
            c
            for c in (graph.vertices if k == "node" else graph.edges).columns
            if c not in (VERTEX_STRUCTURAL if k == "node" else EDGE_STRUCTURAL)
        ]
        for v, k in colmap.var_kinds.items()
    }
    colmap.scope_graph = graph
    return colmap


def _both_orientations(
    fwd: DataFrame, rev: DataFrame, src: Column, dst: Column
) -> DataFrame:
    """An undirected one-hop match: ``fwd`` binds the pattern along each
    edge's stored direction, ``rev`` against it; ``src``/``dst`` are
    the edge's stored endpoint columns in both. Their union, minus
    ``rev``'s self-loops, keeps stored endpoints and matches a self-loop
    once. MATCH (:func:`_prefixed_clause`), every anchored side
    (:func:`_expand_side`), the variable-length expansions
    (:func:`_path_edges`) and the shortestPath BFS orient through
    here."""
    return fwd.unionByName(rev.filter(src != dst))


def _expand_side(
    graph: PropertyGraph,
    pat: EdgePat,
    bound_end: str,
    evar: str,
    ovar: str,
    eprefix: str,
    oprefix: str,
    disj: "list[list[Cond]] | None",
):
    """The anchored one-hop expansion — the one builder of a side one hop
    out from a bound node. It has two callers: :func:`_anchored_match`,
    the compiler of every anchored MATCH clause (first-stage OPTIONAL
    MATCH, pipeline ``[OPTIONAL] MATCH`` after WITH, the MATCH inside a
    correlated ``CALL``), and :func:`_pattern_side`, behind ``COUNT
    { }``, ``EXISTS`` / pattern predicates and pattern comprehensions.
    ``bound_end`` names the pattern end the caller's anchor binds.

    The side is the rel-type-filtered edge scan, prefixed ``eprefix``
    (edge variable ``evar``). An undirected pattern is the union of both
    stored orientations (:func:`_both_orientations`); edge columns keep
    their stored ``src``/``dst``, and a self-loop matches once. The free
    endpoint's label scan, prefixed ``oprefix`` (node variable
    ``ovar``), joins on the far end only when that endpoint has a label
    or a name: a ``()`` end stays a pure edge scan, and an unnamed
    ``(:L)`` end is a semi-join, so the side keeps the edge scan's size
    estimate. The label makes the scan
    dimension-sized, so Catalyst can broadcast it.

    Anchor contract: the caller equi-joins (or groups) on the returned
    anchor column name, never on ``<eprefix><bound_end>``. A WHERE over
    the side's own variables only filters the side before that join;
    any other WHERE is returned for the caller to place. Returns
    ``(side, anchor column name, side colmap, remaining WHERE or
    None)``."""
    e = graph.edges
    if pat.rel_type is not None:
        e = e.filter(rel_type_cond(pat.rel_type))
    e = prefixed(e, eprefix, graph.edges.columns)
    if pat.undirected:
        anchor, far = f"{eprefix}__anchor", f"{eprefix}__far"
        s, d = F.col(f"{eprefix}src"), F.col(f"{eprefix}dst")
        e = _both_orientations(
            e.withColumns({anchor: s, far: d}),
            e.withColumns({anchor: d, far: s}),
            s,
            d,
        )
    else:
        free_end = "dst" if bound_end == "src" else "src"
        anchor, far = f"{eprefix}{bound_end}", f"{eprefix}{free_end}"
    other = pat.dst if bound_end == "src" else pat.src
    scope = {evar: ("edge", eprefix)}
    if other.var is not None or other.label is not None:
        e = e.join(
            prefixed(graph.nodes(other.label), oprefix, graph.vertices.columns),
            F.col(far) == F.col(f"{oprefix}id"),
            "inner" if other.var is not None else "left_semi",
        )
        if other.var is not None:
            scope[ovar] = ("node", oprefix)
    colmap = _scope_colmap(graph, scope)
    if disj is not None:
        refs: set[str] = set()
        _disj_vars(disj, refs)
        if refs <= set(scope):
            e = e.filter(_where_to_column(disj, colmap, set(e.columns), e))
            disj = None
    return e, anchor, colmap, disj


def _prefixed_clause(
    graph: PropertyGraph,
    pat: NodePat | EdgePat,
    idx: int,
    carry_paths: bool = False,
    src_conds: "list[Cond] | None" = None,
) -> tuple[DataFrame, dict[str, str]]:
    """One MATCH pattern as a frame whose columns carry their variable's
    prefix (``<var>_<col>``), plus its scope (var -> kind). Node patterns
    are a label scan; single-hop edges are ``expand`` (two equi-joins
    Catalyst broadcasts when a label restricts an endpoint); a
    variable-length segment is the path expansion (one row per distinct
    path) whose length and, with ``carry_paths``, id arrays land under
    the path variable's prefix — or, unnamed, a hidden ``__vl<idx>_``
    one. ``src_conds`` pre-filters an unbounded segment's sources."""
    vcols = graph.vertices.columns
    if isinstance(pat, NodePat):
        return prefixed(graph.nodes(pat.label), f"{pat.var}_", vcols), {
            pat.var: "node"
        }
    sv, dv = pat.src.var, pat.dst.var
    for v in (pat.var, pat.path):
        if v is not None and v in (sv, dv):
            raise CypherSyntaxError(f"variable {v!r} is already bound")
    if sv == dv:
        # (a)-[..]->(a): bind the far end to a hidden variable and keep
        # the rows that close the cycle
        loop = f"__loop{idx}"
        df, scope = _prefixed_clause(
            graph,
            dc_replace(pat, dst=dc_replace(pat.dst, var=loop)),
            idx,
            carry_paths,
            src_conds,
        )
        del scope[loop]
        df = df.filter(F.col(f"{sv}_id") == F.col(f"{loop}_id"))
        return df.drop(*[f"{loop}_{c}" for c in vcols]), scope
    if pat.hops is not None:
        pp = f"{pat.path}_" if pat.path else f"__vl{idx}_"
        df = _varlength_paths(
            graph, pat, f"{sv}_", f"{dv}_", pp, carry_paths, src_conds
        )
        scope = {sv: "node", dv: "node"}
        if pat.path:
            scope[pat.path] = "path"
        return df, scope
    evar = pat.var
    ren = {c: f"{evar}_{c}" for c in graph.edges.columns}

    def oriented(s: NodePat, d: NodePat) -> DataFrame:
        return graph.expand(
            s.label, pat.rel_type, d.label, f"{s.var}_", f"{d.var}_"
        ).withColumnsRenamed(ren)

    df = oriented(pat.src, pat.dst)
    if pat.undirected:
        # the reversed frame binds the pattern's src to the edge's dst
        df = _both_orientations(
            df,
            oriented(pat.dst, pat.src),
            F.col(f"{evar}_src"),
            F.col(f"{evar}_dst"),
        )
    return df, {evar: "edge", sv: "node", dv: "node"}


def _rel_types_overlap(t1, t2) -> bool:
    """Could two relationship-type restrictions bind the same edge?
    ``None`` means untyped (matches every type), a tuple is Cypher's
    multi-type ``[:A|B]`` form."""
    if t1 is None or t2 is None:
        return True
    s1 = set(t1) if isinstance(t1, tuple) else {t1}
    s2 = set(t2) if isinstance(t2, tuple) else {t2}
    return bool(s1 & s2)


def _match_chain(
    graph: PropertyGraph,
    pats: list[NodePat | EdgePat],
    groups: "list[list[NodePat | EdgePat]]",
    disjs: "list[list[list[Cond]]]",
    carry_paths: bool = False,
    seed: "tuple[DataFrame, dict[str, str]] | None" = None,
):
    """Every first-stage MATCH — one node, one edge, a named or unnamed
    variable-length path, comma patterns and ``MATCH ... MATCH ...``
    clauses — as ONE var-prefixed frame and its scope colmap
    (:func:`_scope_colmap`). Each pattern becomes a var-prefixed frame
    (:func:`_prefixed_clause`); patterns join on the node ids of their
    shared variables (Cypher's name-based unification). Every pattern
    must share a variable with the accumulated pattern — one that shares
    none would be a cartesian product, which this front end refuses by
    contract (the native crossJoin is available to users who really mean
    it). Re-binding a relationship or path variable is rejected, as in
    Cypher. Plan shape: a chain of equi-joins on vertex ids — exactly
    what Catalyst reorders/broadcasts; label filters stay pushed at each
    pattern's own scan.

    ``groups`` (per-MATCH-clause pattern lists) drives openCypher's
    relationship isomorphism: edges bound WITHIN one MATCH clause are
    pairwise distinct — including the edges inside a variable-length
    segment (its edge-id array vs sibling single-hop edge ids vs other
    segments' arrays), never across clauses. A segment carries its id
    arrays only when a same-clause sibling or (``carry_paths``, for the
    named path) a ``nodes(p)``/``relationships(p)`` accessor reads them.

    ``disjs`` (every clause's WHERE) supplies the single-variable
    conjuncts pushed ahead of an unbounded segment's iterative expansion
    (:func:`_common_single_var_conds`).

    ``seed`` starts the chain from an existing var-prefixed frame and its
    scope — the shortestPath composition: the counting-BFS result becomes
    the accumulated frame, and every pattern in ``pats`` joins onto it by
    the same name-based unification."""
    rels_in = {
        id(cp): sum(isinstance(x, EdgePat) for x in grp)
        for grp in groups
        for cp in grp
    }
    path_prefix: dict[int, str] = {}

    def clause(idx: int, pat) -> tuple[DataFrame, dict[str, str]]:
        if not isinstance(pat, EdgePat) or pat.hops is None:
            return _prefixed_clause(graph, pat, idx)
        path_prefix[id(pat)] = f"{pat.path}_" if pat.path else f"__vl{idx}_"
        return _prefixed_clause(
            graph,
            pat,
            idx,
            rels_in.get(id(pat), 0) > 1 or (carry_paths and pat.path is not None),
            _common_single_var_conds(disjs, pat.src.var),
        )

    #: var -> column prefix on the accumulated frame: ``<var>_``, except a
    #: leading node pattern, whose label scan stays unprefixed (no rename)
    prefix: dict[str, str] = {}
    if seed is not None:
        acc, scope = seed[0], dict(seed[1])
        to_join = list(enumerate(pats, start=1))
    elif isinstance(pats[0], NodePat):
        acc, scope = graph.nodes(pats[0].label), {pats[0].var: "node"}
        prefix[pats[0].var] = ""
        to_join = list(enumerate(pats[1:], start=1))
    else:
        acc, scope = clause(0, pats[0])
        to_join = list(enumerate(pats[1:], start=1))

    # greedy connectivity ordering: join each pattern once it shares a
    # node variable with the accumulated frame, regardless of clause
    # ORDER — ``MATCH p = shortestPath((c)-[*..3]->(r)) MATCH
    # (s)-[:A]->(n)-[:B]->(r)`` binds through the SECOND hop. Inner
    # equi-joins commute, so reordering never changes row semantics; a
    # pattern that never connects is the same cartesian-product error.
    def _node_vars(pp) -> set:
        vs = {pp.var} if isinstance(pp, NodePat) else {pp.src.var, pp.dst.var}
        return vs - {None}

    bound = set(scope)
    pending = list(to_join)
    ordered: list = []
    while pending:
        for k, (idx_k, pp_k) in enumerate(pending):
            if _node_vars(pp_k) & bound:
                bound |= _node_vars(pp_k)
                ordered.append(pending.pop(k))
                break
        else:
            raise CypherSyntaxError(
                "each MATCH clause must share a variable with an earlier clause"
            )
    vcols = graph.vertices.columns
    for idx, pat in ordered:
        df, sc = clause(idx, pat)
        for v, kind in sc.items():
            if v in scope and (kind != "node" or scope[v] != "node"):
                raise CypherSyntaxError(f"{kind} variable {v!r} already bound")
        shared = sorted(set(sc) & set(scope))
        # the accumulated frame already holds a shared node's columns:
        # the pattern keeps only its id, the USING-join key
        df = df.drop(*[f"{v}_{c}" for v in shared for c in vcols if c != "id"])
        for v in shared:
            if prefix.get(v) == "":
                df = df.withColumnRenamed(f"{v}_id", "id")
        acc = acc.join(df, [f"{prefix.get(v, f'{v}_')}id" for v in shared])
        scope.update(sc)
    for grp in groups:
        evars = [
            f"{cp.var}_id"
            for cp in grp
            if isinstance(cp, EdgePat) and cp.hops is None
        ]
        vlcols = [
            f"{path_prefix[id(cp)]}__rels"
            for cp in grp
            if isinstance(cp, EdgePat) and cp.hops is not None
        ]
        for i in range(len(evars)):
            for j in range(i + 1, len(evars)):
                acc = acc.filter(F.col(evars[i]) != F.col(evars[j]))
        for rc in vlcols:
            for ev in evars:
                acc = acc.filter(~F.array_contains(F.col(rc), F.col(ev)))
        for i in range(len(vlcols)):
            for j in range(i + 1, len(vlcols)):
                acc = acc.filter(
                    ~F.arrays_overlap(F.col(vlcols[i]), F.col(vlcols[j]))
                )
    hidden = [
        f"{pp}{c}"
        for pp in path_prefix.values()
        if pp.startswith("__vl")
        for c in _PATH_PROPS
    ]
    if hidden:
        acc = acc.drop(*hidden)
    return acc, _scope_colmap(
        graph,
        {v: (kind, prefix.get(v, f"{v}_")) for v, kind in scope.items()},
    )


def _out_name(item: ReturnItem) -> str:
    return item.alias or _default_name(item.expr)


def _desugar_inline_props(
    pats: list["NodePat | EdgePat"], taken: set[str]
) -> list[Cond]:
    """Inline property maps in MATCH — ``(n:L {k: v})`` / ``-[e:T {s:
    2001}]->`` — desugared to equality conditions on the owning variable
    (openCypher: the map is an implicit conjunct of the clause's WHERE, so
    a null-valued entry never matches, exactly like ``n.k = null``).
    Anonymous elements carrying a map get a synthetic dunder variable so
    the ordinary colmap machinery resolves the conditions; ``taken``
    guards against (pathological) user variables with the same spelling.
    The caller must AND the result into EVERY disjunct of the clause's
    WHERE — property maps distribute over OR."""
    conds: list[Cond] = []
    counter = 0

    def varname(el) -> str:
        nonlocal counter
        if el.var is None:
            while f"__p{counter}" in taken:
                counter += 1
            el.var = f"__p{counter}"
            taken.add(el.var)
        return el.var

    for pat in pats:
        for nd in [pat] if isinstance(pat, NodePat) else [pat.src, pat.dst]:
            for k, v in (nd.props or {}).items():
                conds.append(Cond(PropRef(varname(nd), k), "=", v))
            nd.props = {}
        if isinstance(pat, EdgePat) and pat.props:
            if pat.hops is not None:
                raise CypherSyntaxError(
                    "inline property maps are not supported on "
                    "variable-length relationships"
                )
            for k, v in pat.props.items():
                conds.append(Cond(PropRef(varname(pat), k), "=", v))
            pat.props = {}
    return conds


def _and_into(
    disj: list[list[Cond]] | None, conds: list[Cond]
) -> list[list[Cond]] | None:
    """AND ``conds`` into every disjunct of an OR-of-ANDs WHERE (the
    inline-property-map merge — maps distribute over OR)."""
    if not conds:
        return disj
    if disj is None:
        return [list(conds)]
    for conj in disj:
        conj.extend(conds)
    return disj


def _assign_anon_vars(pats: list["NodePat | EdgePat"], taken: set[str]) -> None:
    """Chain execution keys every join on variable names, so anonymous
    elements get synthetic dunder names pre-translation. A chain's shared
    continuation NodePat is one object, so it is named exactly once and
    both adjacent segments unify on it."""
    counter = 0
    for pat in pats:
        els = [pat] if isinstance(pat, NodePat) else [pat.src, pat.dst, pat]
        for el in els:
            if el.var is None:
                while f"__a{counter}" in taken:
                    counter += 1
                el.var = f"__a{counter}"
                taken.add(el.var)


def _pattern_vars(pats: list["NodePat | EdgePat"]) -> set[str]:
    out: set[str] = set()
    for pat in pats:
        if isinstance(pat, NodePat):
            if pat.var:
                out.add(pat.var)
        else:
            for v in (pat.var, pat.src.var, pat.dst.var):
                if v:
                    out.add(v)
    return out


def _shortest_path(
    graph: PropertyGraph,
    pat: EdgePat,
    pathvar: str,
    all_paths: bool = False,
    carry_paths: bool = False,
    src_conds: "list[Cond] | None" = None,
):
    """``p = shortestPath((a:L1)-[:T*lo..hi]->(b:L2))`` and its
    ``allShortestPaths`` sibling — level-synchronous frontier BFS with
    shortest-path COUNTING (NOT the path-enumeration union
    ``_varlength_paths`` uses: per-pair state is one (dist, count) row —
    |V|·|sources| — where path enumeration is exponential on dense
    graphs). Each round expands only the NEW frontier (anti-join against
    settled pairs), so a pair's count is finalized exactly at its BFS
    level: count(v, k) = Σ count(u, k-1) over predecessors u — the
    textbook #shortest-paths recurrence (the σ of Brandes' betweenness).

    shortestPath returns ONE row per (a, b) pair; allShortestPaths
    multiplies each pair by its path count (one row per distinct
    shortest path, matching Neo4j's row semantics) via an explode over
    ``sequence(1, count)`` — counts stay bounded because ties only
    accumulate within the hop bound. ``length(p)`` resolves to the hop
    count in both forms. Undirected patterns BFS over both stored
    orientations (:func:`_both_orientations`). The levels run on
    ``tuning.frontier_levels``, whose one
    driver-side scalar per level is the frontier count. WHERE predicates
    apply after translation; ``src_conds`` (the WHERE's single-variable
    conjuncts on ``a``) prefilter the frontier's sources.

    Returns the seed of :func:`_match_chain`: the endpoints' columns under
    their variables' prefixes, the path's length (and, with
    ``carry_paths``, its id arrays) under ``<pathvar>_``, and the scope."""
    carry_rep = carry_paths and not all_paths
    carry_all = carry_paths and all_paths
    lo, hi = pat.hops
    # unbounded spec (shortestPath((a)-[:T*]->(b)) — the textbook form):
    # per-pair BFS state is |pairs| rows regardless of the bound, so the
    # only change is the round budget — levels stop at the graph diameter
    # (frontier drains); a diameter past the ceiling raises loudly like
    # the unbounded enumeration (drain-or-raise).
    unbounded = hi is None
    if unbounded:
        hi = VAR_UNBOUNDED_MAX_ROUNDS
    vcols = graph.vertices.columns
    a_nodes = graph.nodes(pat.src.label)
    if src_conds and pat.src.var is not None:
        # pushed-down source predicate (see _common_single_var_conds):
        # the BFS frontier starts from the MATCHED anchors only — at
        # scale this is the difference between one source and every
        # a-label node; the full WHERE still applies post-translation
        a_nodes = _src_prefilter(graph, a_nodes, pat.src.var, src_conds)
    init_cols = [
        F.col("id").alias("__a"),
        F.col("id").alias("__v"),
        F.lit(0).alias("__len"),
        F.lit(1).cast("long").alias("__cnt"),
    ]
    if carry_rep:
        # representative-path state: ONE deterministic path per settled
        # pair (the lexicographically-least node-id sequence, edge ids as
        # tiebreak) — arrays of ≤ hi+1 ids per row, so the BFS state stays
        # O(|pairs| · hops), never the tied-path product
        init_cols.append(F.array(F.col("id")).alias("__nodes"))
        init_cols.append(F.array().cast("array<bigint>").alias("__rels"))
    if carry_all:
        # capped tie-enumeration state (round-6 verdict ask #5): up to
        # ALL_PATHS_TIE_CAP+1 (n, r) paths per settled pair, canonically
        # array_sorted so the capped slice is deterministic regardless of
        # collect_list order — O(|pairs| · cap · hops) state, bounded by
        # construction; enumeration is EXACT whenever the query returns
        # (see the σ-monotonicity note on ALL_PATHS_TIE_CAP)
        init_cols.append(
            F.array(
                F.struct(
                    F.array(F.col("id")).alias("n"),
                    F.array().cast("array<bigint>").alias("r"),
                )
            ).alias("__paths")
        )
    # edges checkpointed once per graph, kernel sized by max(|e|,
    # frontier) with the path-state row target (as in
    # _varlength_paths_unbounded); the seeds' checkpoint is lazy — the
    # level-1 count materializes it
    from flink_neo4j_spark.tuning import frontier_levels, iter_kernel

    e, n_e = _walk_edges(graph, pat, narrow=not carry_paths)
    with iter_kernel(
        e.sparkSession, n_e, rows_per_partition=PATH_STATE_ROWS_PER_PARTITION
    ) as k:
        seeds = a_nodes.select(*init_cols).localCheckpoint(eager=False)

        def expand(frontier: DataFrame) -> DataFrame:
            # every frontier row has the same __len; aggregating it keeps
            # the plan free of a per-level literal
            aggs = [
                F.sum("__cnt").alias("__cnt"),
                (F.max("__len") + 1).alias("__len"),
            ]
            if carry_rep:
                aggs.append(
                    F.min(
                        F.struct(
                            F.concat("__nodes", F.array(F.col("dst"))).alias("n"),
                            F.concat("__rels", F.array(F.col("id"))).alias("r"),
                        )
                    ).alias("__rep")
                )
            if carry_all:
                aggs.append(
                    F.slice(
                        F.array_sort(F.flatten(F.collect_list("__ext"))),
                        1,
                        ALL_PATHS_TIE_CAP + 1,
                    ).alias("__paths")
                )
            joined = frontier.join(k.bc(e), F.col("__v") == F.col("src"))
            if carry_all:
                joined = joined.withColumn(
                    "__ext",
                    F.transform(
                        F.col("__paths"),
                        lambda pp: F.struct(
                            F.concat(pp["n"], F.array(F.col("dst"))).alias("n"),
                            F.concat(pp["r"], F.array(F.col("id"))).alias("r"),
                        ),
                    ),
                )
            nxt = joined.groupBy("__a", F.col("dst").alias("__v")).agg(*aggs)
            if carry_rep:
                nxt = nxt.select(
                    "__a",
                    "__v",
                    "__len",
                    "__cnt",
                    F.col("__rep")["n"].alias("__nodes"),
                    F.col("__rep")["r"].alias("__rels"),
                )
            if carry_all:
                nxt = nxt.select("__a", "__v", "__len", "__cnt", "__paths")
            return nxt

        undrained = RuntimeError(
            "unbounded shortestPath BFS did not drain within "
            f"{VAR_UNBOUNDED_MAX_ROUNDS} levels (graph diameter "
            "exceeds the ceiling); bound the pattern or raise "
            "VAR_UNBOUNDED_MAX_ROUNDS consciously"
        ) if unbounded else None
        dist = seeds
        for level, _ in frontier_levels(
            k, seeds, expand, hi, n_e, ["__a", "__v"], undrained
        ):
            dist = dist.unionByName(level)
    # lo=0 admits the zero-length self-pair (settled at BFS level 0);
    # every lo>=1 keeps excluding it, as before
    paths = dist.filter(F.col("__len") >= lo)
    sp, dp = f"{pat.src.var}_", f"{pat.dst.var}_"
    df = (
        paths.join(prefixed(a_nodes, sp, vcols), F.col("__a") == F.col(f"{sp}id"))
        .join(
            prefixed(graph.nodes(pat.dst.label), dp, vcols),
            F.col("__v") == F.col(f"{dp}id"),
        )
        .drop("__a", "__v")
    )
    if carry_all:
        # one row PER ENUMERATED PATH — exact whenever the tie cap holds;
        # a pair with more ties than the cap raises at execution (loud,
        # never a silent undercount)
        checked = F.when(
            F.assert_true(
                F.col("__cnt") <= ALL_PATHS_TIE_CAP,
                F.concat(
                    F.lit(
                        "allShortestPaths tie enumeration: a pair has "
                    ),
                    F.col("__cnt").cast("string"),
                    F.lit(
                        f" tied paths (cap {ALL_PATHS_TIE_CAP}); raise "
                        "ALL_PATHS_TIE_CAP consciously or drop the "
                        "nodes()/relationships() accessor"
                    ),
                ),
            ).isNull(),
            F.col("__paths"),
        )
        df = (
            df.withColumn("__p", F.explode(checked))
            .withColumn("__nodes", F.col("__p")["n"])
            .withColumn("__rels", F.col("__p")["r"])
            .drop("__p", "__paths", "__cnt")
        )
    elif all_paths:
        df = df.withColumn(
            "__path_no", F.explode(F.sequence(F.lit(1), F.col("__cnt")))
        ).drop("__path_no", "__cnt")
    else:
        df = df.drop("__cnt")
    return df.withColumnsRenamed(
        {"__len": f"{pathvar}_length", "__nodes": f"{pathvar}___nodes",
         "__rels": f"{pathvar}___rels"}
    ), {pat.src.var: "node", pat.dst.var: "node", pathvar: "path"}


def _pattern_anchor(colmap, v: str, what: str):
    """(graph, anchor id column) for a pattern subquery or predicate bound
    at ``v``: a node variable of a MATCH scope, or the ``id`` field of a
    WITH-carried node struct (post-WITH degree / adjacency / existence
    forms)."""
    graph = getattr(colmap, "scope_graph", None) or getattr(
        colmap, "stage_graph", None
    )
    if graph is not None and (
        getattr(colmap, "var_kinds", {}).get(v) == "node"
        or "id" in getattr(colmap, "structs", {}).get(v, ())
    ):
        return graph, colmap(PropRef(v, None))
    raise CypherSyntaxError(
        f"{what} are only supported over a MATCHed node or a "
        f"WITH-carried node; {v!r} is neither in this scope"
    )


def _pattern_side(graph: PropertyGraph, pc: "PatternCond | PatternComp"):
    """The :func:`_expand_side` of one ``COUNT { }`` / ``EXISTS`` /
    pattern-comprehension pattern anchored at ``pc.var``, its inner WHERE
    applied. The inner scope is the pattern's own edge and far-node
    variables; an outer reference raises rather than silently
    correlating. Returns ``(side, anchor column name, inner colmap)``."""
    what = (
        "a pattern comprehension"
        if isinstance(pc, PatternComp)
        else "a pattern subquery"
    )
    own = {pc.edge_var, pc.dst_var} - {None}
    refs: set[str] = set()
    if pc.pred is not None:
        _disj_vars(pc.pred, refs)
    _expr_vars(getattr(pc, "expr", None), refs)
    stray = sorted(refs - own)
    if stray:
        raise CypherSyntaxError(
            f"{what} may only reference its own pattern variables "
            f"({', '.join(sorted(own)) or 'none bound'}); got {stray[0]!r}"
        )
    # an unreferenced far variable is unobservable: the far end is then
    # a label semi-join (or nothing), exactly like ``(:L)`` / ``()``
    anchor = NodePat(pc.var, None)
    far = NodePat(pc.dst_var if pc.dst_var in refs else None, pc.dst_label)
    incoming = pc.direction == "in"
    pat = EdgePat(
        pc.edge_var, pc.rel_type,
        far if incoming else anchor, anchor if incoming else far,
        undirected=pc.direction == "undirected",
    )
    # the side aggregates before it meets the outer frame, so only the
    # far node's columns need a prefix (an edge rename costs py4j calls)
    side, anchor_col, colmap, _ = _expand_side(
        graph, pat, "dst" if incoming else "src",
        pc.edge_var or "__pe", pc.dst_var or "__pn", "", "__pn_", pc.pred,
    )
    return side, anchor_col, colmap


@dataclass
class _Anchored:
    """One compiled anchored clause (:func:`_anchored_match`)."""

    df: DataFrame  # the current rows (bound-endpoint map applied if plain)
    side: DataFrame  # the one-hop side, built by _expand_side
    anchor: str  # the side's anchor column
    on: Column  # join condition: bound endpoint id = anchor [AND its map]
    colmap: Any  # the side's scope colmap
    rest: "list[list[Cond]] | None"  # WHERE terms not over the side alone
    new_vars: list[str]  # the clause's named new variables


def _anchored_match(
    df: DataFrame,
    colmap,
    pat: "NodePat | EdgePat",
    disj: "list[list[Cond]] | None",
    optional: bool,
    n: int,
    clause: str,
) -> _Anchored:
    """The one compiler of an anchored ``[OPTIONAL] MATCH (a)-[e]->(b)``
    — one hop out from a node the query has already bound. First-stage
    OPTIONAL MATCH, pipeline ``[OPTIONAL] MATCH`` after WITH and the
    MATCH inside a correlated ``CALL { WITH n MATCH … }`` all compile
    here; ``clause`` names the form in error messages.

    Exactly one endpoint must be bound in ``colmap``'s scope, to a
    MATCHed node or a WITH-carried node struct (:func:`_pattern_anchor`);
    the relationship and the free endpoint must be new variables. An
    inline map on the bound endpoint is a predicate of the clause and
    becomes one Column: part of the left-join condition when
    ``optional`` (failing rows null-extend, per Neo4j), a filter of the
    current rows otherwise (an inner join, so pre-join equals
    post-join). The other maps desugar into ``disj``
    (:func:`_desugar_inline_props`), and :func:`_expand_side` builds the
    side: WHERE terms over the side's own variables filter it before the
    join; the rest come back for the caller to place.

    In a MATCH scope the side's columns land under the new variables' own
    prefixes (``<var>_``; ``__oe<n>``/``__oo<n>`` name unnamed ones), so
    the scope colmap extends unchanged; after a WITH horizon they sit
    under hidden ``__we<n>_``/``__wo<n>_`` prefixes."""
    if not isinstance(pat, EdgePat) or pat.hops is not None:
        raise CypherSyntaxError(
            f"{clause} supports a single-hop edge pattern (a)-[e]->(b)"
        )
    scope = getattr(colmap, "scope", None)
    names = (
        set(scope or ())
        | set(getattr(colmap, "star_names", ()))
        | set(getattr(colmap, "structs", {}))
    )
    src_bound, dst_bound = pat.src.var in names, pat.dst.var in names
    if src_bound and dst_bound:
        raise CypherSyntaxError(
            f"{clause} must leave one endpoint free (both are already bound)"
        )
    if not (src_bound or dst_bound):
        raise CypherSyntaxError(
            f"{clause} must anchor one endpoint on a bound node variable"
        )
    if pat.var is not None and pat.var in names:
        raise CypherSyntaxError(
            f"variable {pat.var!r} is already bound in this scope"
        )
    bound, other = (pat.src, pat.dst) if src_bound else (pat.dst, pat.src)
    graph, bound_id = _pattern_anchor(colmap, bound.var, f"{clause} patterns")
    new_vars = [v for v in (other.var, pat.var) if v is not None]
    bound_map = None
    if bound.props:
        conds = [
            Cond(PropRef(bound.var, k), "=", v) for k, v in bound.props.items()
        ]
        bound.props = {}
        bound_map = F.coalesce(
            _where_to_column([conds], colmap, set(df.columns), df), F.lit(False)
        )
        if not optional:
            df, bound_map = df.filter(bound_map), None
    disj = _and_into(
        disj, _desugar_inline_props([pat], names | _pattern_vars([pat]))
    )
    if scope is not None:
        evar, ovar = pat.var or f"__oe{n}", other.var or f"__oo{n}"
        ep, op = f"{evar}_", f"{ovar}_"
    else:
        ep, op = f"__we{n}_", f"__wo{n}_"
        evar, ovar = pat.var or ep, other.var or op
    side, anchor, side_cm, rest = _expand_side(
        graph, pat, "src" if src_bound else "dst", evar, ovar, ep, op, disj
    )
    on = bound_id == F.col(anchor)
    if bound_map is not None:
        on = on & bound_map
    return _Anchored(df, side, anchor, on, side_cm, rest, new_vars)


def _carry_new_vars(df: DataFrame, side_cm, new_vars: list[str]) -> DataFrame:
    """Past a WITH horizon every variable is one struct column: bind each
    new pattern variable by the whole-variable projection rule
    (``_expr_column(WholeVar)``: a failed OPTIONAL binding is a NULL
    variable), then drop the side's prefixed columns."""
    if new_vars:
        df = df.withColumns(
            {v: _expr_column(WholeVar(v), side_cm, df) for v in new_vars}
        )
    prefixes = tuple(pref for _, pref in side_cm.scope.values())
    return df.drop(*[c for c in df.columns if c.startswith(prefixes)])


def _stage_colmap(prev, names: set[str], df: DataFrame):
    """The bare scope after a pipeline MATCH or CALL adds columns to a
    WITH stage: the stage's graph and pending row order carry over."""
    cm = _bare_colmap(names, _struct_outputs(df), df)
    cm.stage_graph = getattr(prev, "stage_graph", None)
    pend = getattr(prev, "row_order", None)
    if pend:
        cm.row_order = pend
    return cm


def _call_rows(
    a: _Anchored,
    items: list[ReturnItem],
    distinct: bool,
    order: list[tuple],
    skip: int | None,
    limit: int | None,
) -> tuple[DataFrame, bool]:
    """The per-anchor rows of a correlated ``CALL { WITH n MATCH …
    RETURN items [ORDER BY …] [SKIP s] [LIMIT k] }``, built on the
    side before it meets the outer rows: the side's anchor column
    (``a.anchor``, so the caller joins on ``a.on``) and the outputs.

    1. Project the side, or aggregate it per anchor (one partial
       aggregate; the COUNT { } shape generalized to any aggregate), or
       dedup the projection for ``RETURN DISTINCT``.
    2. Resolve ORDER BY like RETURN/WITH (:func:`_order_columns`): an
       alias, an expression equal to an item, a property of a projected
       whole variable, or an expression over aliases.
    3. A plain RETURN may also sort by any other expression over the
       side's variables, computed as a hidden ``__ord<i>`` column; after
       an aggregate or DISTINCT that scope is gone, and such a key
       raises.
    4. SKIP/LIMIT cut through one ``row_number`` window per anchor, ties
       broken by the projected columns. Without a cut the inner order is
       unobservable (the join does not keep it), so no sort is built.

    Returns the rows and whether the RETURN is aggregate-only (one row
    per anchor, so the caller left-joins to keep empty anchors)."""
    if (skip is not None or limit is not None) and not order:
        raise CypherSyntaxError(
            "SKIP/LIMIT inside a correlated CALL requires ORDER BY (an "
            "unordered per-anchor cut would be nondeterministic)"
        )
    has_agg = any(_contains_agg(i.expr) for i in items)
    if has_agg and any(
        _contains_agg(i.expr) and not isinstance(i.expr, AggCall)
        for i in items
    ):
        # the per-anchor groupBy splits items shallowly; composite
        # aggregate expressions would land on the key side and mis-group
        raise CypherSyntaxError(
            "composite aggregate expressions are not supported inside "
            "CALL { }; RETURN the plain aggregate and compute the "
            "expression outside"
        )
    side, cm = a.side, a.colmap
    outs = [_out_name(i) for i in items]
    cut = skip is not None or limit is not None

    def project(extra: list[ReturnItem]) -> DataFrame:
        return side.select(
            a.anchor,
            *[
                _expr_column(i.expr, cm, side).alias(_out_name(i))
                for i in [*items, *extra]
            ],
        )

    keys = [i for i in items if not isinstance(i.expr, AggCall)]
    if has_agg:
        if cut and not keys:
            # one (possibly fabricated count-0) row per anchor, so there
            # is nothing to cut
            raise CypherSyntaxError(
                "SKIP/LIMIT on an aggregate-only CALL RETURN is not "
                "supported (each anchor yields exactly one row); drop the "
                "SKIP/LIMIT"
            )
        rows = side.groupBy(
            a.anchor,
            *[_expr_column(i.expr, cm, side).alias(_out_name(i)) for i in keys],
        ).agg(
            *[
                _agg_column(i.expr, cm, side).alias(_out_name(i))
                for i in items
                if isinstance(i.expr, AggCall)
            ]
        ).select(a.anchor, *outs)
    else:
        # DISTINCT dedups the projected rows (anchor included) before any
        # per-anchor ranking: openCypher's DISTINCT, ORDER BY, LIMIT order
        rows = project([])
        if distinct:
            rows = rows.dropDuplicates()
    sort_cols: list[Column] = []
    hidden: list[ReturnItem] = []
    for k, (key, asc) in enumerate(order):
        try:
            sort_cols += _order_columns([(key, asc)], items, "CALL RETURN", rows)
        except CypherSyntaxError:
            if has_agg:
                raise CypherSyntaxError(
                    "ORDER BY inside an aggregating CALL may only reference "
                    "RETURN items or expressions over them (the "
                    "post-aggregation scope)"
                ) from None
            if distinct:
                raise CypherSyntaxError(
                    "ORDER BY inside CALL { RETURN DISTINCT } may only "
                    "reference the RETURN aliases or expressions over them"
                ) from None
            if isinstance(key, str):
                raise
            hidden.append(ReturnItem(key, f"__ord{k}"))
            sort_cols.append(_order_dir(F.col(f"__ord{k}"), asc))
    if not cut:
        return rows, has_agg and not keys
    if hidden:
        rows = project(hidden)
    w = Window.partitionBy(a.anchor).orderBy(*sort_cols, *outs)
    rows = rows.withColumn("__call_rn", F.row_number().over(w))
    if skip is not None:
        rows = rows.filter(F.col("__call_rn") > skip)
    if limit is not None:
        rows = rows.filter(F.col("__call_rn") <= (skip or 0) + limit)
    return rows.drop("__call_rn", *[h.alias for h in hidden]), False


def _bind_pattern_subqueries(
    df: DataFrame,
    colmap,
    items: list[ReturnItem] | None,
    where_disj: list[list[Cond]] | None = None,
) -> tuple[DataFrame, list[str]]:
    """Bind every ``COUNT { pattern }`` subquery and ``[pattern | expr]``
    pattern comprehension in ``items`` (or, when ``items`` is None, in
    the operands of ``where_disj``'s conditions) to a real column.

    One binder serves both forms: the :func:`_pattern_side` (built by
    :func:`_expand_side`, so an undirected pattern counts a self-loop
    once and a ``()`` far end stays a pure edge scan) aggregates to ONE
    row per anchor id — ``count(*)`` or the value-sorted collected list —
    and left-joins on the anchor (:func:`_pattern_anchor`), the empty
    default (0 / ``[]``) filling anchors with no match, per Cypher. The
    join never multiplies rows, and at scale it is the same shuffle a
    degree computation costs anyway. Identical subqueries bind once.
    Mutates the exprs in place (CountPattern/PatternComp → RawCol) and
    returns the joined frame with the helper column names it bound. A
    RETURN/WITH projection drops the helpers; a WHERE or an UNWIND drops
    them once it has used them, so a later binding never meets them."""
    bound: dict[str, str] = {}

    def bind(x: "CountPattern | PatternComp") -> RawCol:
        nonlocal df
        comp = isinstance(x, PatternComp)
        pc = x if comp else x.pattern
        graph, outer_id = _pattern_anchor(
            colmap,
            pc.var,
            "pattern comprehensions" if comp else "COUNT { } subqueries",
        )
        key = repr(x)
        if key in bound:
            return RawCol(bound[key])
        name = f"__pcnt_{len(bound)}"
        side, anchor, icolmap = _pattern_side(graph, pc)
        if comp:
            expr = pc.expr
            if isinstance(expr, BareRef) and expr.name in (
                pc.edge_var, pc.dst_var
            ):
                # bare `| b` projection: the WHOLE node/edge value (the
                # comprehension body parses bare words as refs, not
                # WholeVar)
                expr = WholeVar(expr.name)
            # collect via a struct wrapper so null projected values
            # SURVIVE (Neo4j keeps them in a pattern comprehension; bare
            # collect_list would silently drop them), then unwrap — one
            # hash aggregate
            val = F.struct(_expr_column(expr, icolmap, side).alias("v"))
            agg = F.transform(
                F.array_sort(F.collect_list(val)), lambda s: s["v"]
            )
        else:
            agg = F.count("*")
        per = side.groupBy(F.col(anchor).alias("__pc_id")).agg(agg.alias(name))
        empty = (
            F.array().cast(per.schema[name].dataType.simpleString())
            if comp
            else F.lit(0)
        )
        df = (
            df.join(per, outer_id == F.col("__pc_id"), "left")
            .drop("__pc_id")
            .withColumn(name, F.coalesce(F.col(name), empty))
        )
        bound[key] = name
        return RawCol(name)

    def rewrite(expr):
        # every expression node, CASE branches, list and map entries
        # included; a pattern predicate's own inner scope is not ours
        if isinstance(expr, (CountPattern, PatternComp)):
            return bind(expr)
        if isinstance(expr, (list, tuple)):
            new = [rewrite(v) for v in expr]
            changed = any(n is not v for n, v in zip(new, expr))
            return type(expr)(new) if changed else expr
        if is_dataclass(expr) and not isinstance(expr, PatternCond):
            new = {f.name: rewrite(getattr(expr, f.name)) for f in fields(expr)}
            if any(v is not getattr(expr, k) for k, v in new.items()):
                return dc_replace(expr, **new)
        return expr

    if items is not None:
        for i in items:
            i.expr = rewrite(i.expr)
        return df, list(bound.values())
    # WHERE-position binding (the Neo4j 5 degree-filter idiom
    # ``WHERE COUNT { (n)-[:T]->() } >= 2`` and size-of-comprehension
    # filters): rewrite every cond operand in place. Pattern PREDICATES
    # (semi/anti-joins) were already consumed by the caller; literal
    # operands pass through rewrite unchanged.
    for conj in where_disj:
        for cond in conj:
            if isinstance(cond, PatternCond):
                continue
            cond.left = rewrite(cond.left)
            cond.right = rewrite(cond.right)
    return df, list(bound.values())


def _contains(x, kinds) -> bool:
    """Deep test: does expression tree ``x`` contain a node of type
    ``kinds`` anywhere — including inside CASE branches, comprehension
    sources, map/list constructors, and condition operands? The parser's
    top-level ``isinstance`` checks miss nested nodes now that composite
    expressions parse; every clause that must REJECT aggregates (WHERE,
    SET values, UNWIND), every branch that must DETECT an aggregating
    projection (implicit grouping, row-order carry) and the bare writes'
    test for a pattern subquery in WHERE use this instead."""
    if isinstance(x, kinds):
        return True
    if isinstance(x, BinOp):
        return _contains(x.left, kinds) or _contains(x.right, kinds)
    if isinstance(x, FuncCall):
        return _contains(x.arg, kinds) or any(_contains(a, kinds) for a in x.extra)
    if isinstance(x, CaseExpr):
        return (
            any(
                _disj_contains(disj, kinds) or _contains(res, kinds)
                for disj, res in x.whens
            )
            or _contains(x.default, kinds)
        )
    if isinstance(x, (IsNullExpr,)):
        return _contains(x.arg, kinds)
    if isinstance(x, FieldAccess):
        return _contains(x.base, kinds)
    if isinstance(x, IndexExpr):
        return _contains(x.base, kinds) or _contains(x.index, kinds)
    if isinstance(x, SliceExpr):
        return (
            _contains(x.base, kinds)
            or _contains(x.lo, kinds)
            or _contains(x.hi, kinds)
        )
    if isinstance(x, ListComp):
        return (
            _contains(x.source, kinds)
            or (x.pred is not None and _disj_contains(x.pred, kinds))
            or _contains(x.expr, kinds)
        )
    if isinstance(x, ReduceExpr):
        return (
            _contains(x.init, kinds)
            or _contains(x.source, kinds)
            or _contains(x.expr, kinds)
        )
    if isinstance(x, MapLit):
        return any(_contains(v, kinds) for _, v in x.entries)
    if isinstance(x, ListExpr):
        return any(_contains(v, kinds) for v in x.items)
    if isinstance(x, MapProj):
        return any(_contains(v, kinds) for _, v in x.extras)
    if isinstance(x, Cond):
        return _contains(x.left, kinds) or _contains(x.right, kinds)
    return False


def _disj_contains(disj, kinds) -> bool:
    return any(
        _contains(cond, kinds)
        for conj in disj
        for cond in conj
        if not isinstance(cond, PatternCond)
    )


def _contains_agg(x) -> bool:
    return _contains(x, AggCall)


def _disj_contains_agg(disj) -> bool:
    return _disj_contains(disj, AggCall)


def _is_literal_leaf(x) -> bool:
    return x is None or isinstance(x, (int, float, str, bool))


def _decompose_agg_expr(expr, agg_reg: list, key_reg: list, key_items):
    """Split a COMPOSITE aggregate expression (``sum(x) / count(*)``,
    ``round(avg(x), 2)``, ``CASE WHEN … THEN count(*) END``) into

    - aggregate subtrees, registered in ``agg_reg`` as (AggCall, alias)
      pairs (deduplicated by AST equality, so ``count(*)`` appearing twice
      computes once), and
    - maximal aggregate-free variable-referencing subtrees, which become
      IMPLICIT GROUPING KEYS (Neo4j: in ``RETURN n.x + count(*)`` the
      ``n.x`` part groups), registered in ``key_reg`` — unless an equal
      expression is already projected as a key item, in which case its
      output column is reused,

    returning the residual tree over :class:`BareRef` placeholders, to be
    evaluated as a POST-AGGREGATION projection. Literals stay in place.
    """
    if isinstance(expr, AggCall):
        for call, alias in agg_reg:
            if call == expr:
                return BareRef(alias)
        alias = f"__agg{len(agg_reg)}"
        agg_reg.append((expr, alias))
        return BareRef(alias)
    if not _contains_agg(expr):
        if _is_literal_leaf(expr):
            return expr
        # aggregate-free subtree referencing scope: an implicit grouping
        # key. Reuse a projected key item with the same AST if one exists
        # (``RETURN n.x AS x, n.x + count(*) AS y`` groups once on x).
        for item in key_items:
            if item.expr == expr:
                return BareRef(_out_name(item))
        for e, alias in key_reg:
            if e == expr:
                return BareRef(alias)
        alias = f"__gkey{len(key_reg)}"
        key_reg.append((expr, alias))
        return BareRef(alias)
    # mixed: recurse structurally
    rec = lambda e: _decompose_agg_expr(e, agg_reg, key_reg, key_items)
    if isinstance(expr, BinOp):
        return BinOp(expr.op, rec(expr.left), rec(expr.right))
    if isinstance(expr, FuncCall):
        return FuncCall(expr.fn, rec(expr.arg), tuple(rec(a) for a in expr.extra))
    if isinstance(expr, CaseExpr):
        # WHEN-condition operands may carry aggregates in projection
        # position (the parser's _agg_ok flag permits them there) and are
        # decomposed like any other operand; their aggregate-free variable
        # references register as implicit grouping keys. Raw non-AST
        # operands (the IN compiler's list literals / pre-substituted
        # $param lists) must stay verbatim: the IN compiler star-expands
        # ``cond.right`` and a constant can never be a grouping key.
        rec_op = lambda o: o if isinstance(o, (list, tuple)) else rec(o)
        whens = []
        for disj, res in expr.whens:
            new_disj = [
                [
                    dc_replace(c, left=rec_op(c.left), right=rec_op(c.right))
                    if isinstance(c, Cond)
                    else c
                    for c in conj
                ]
                for conj in disj
            ]
            whens.append((new_disj, rec(res)))
        return CaseExpr(tuple(whens), rec(expr.default))
    if isinstance(expr, IsNullExpr):
        return IsNullExpr(rec(expr.arg), expr.negated)
    if isinstance(expr, FieldAccess):
        return FieldAccess(rec(expr.base), expr.name)
    if isinstance(expr, IndexExpr):
        return IndexExpr(rec(expr.base), rec(expr.index))
    if isinstance(expr, SliceExpr):
        return SliceExpr(rec(expr.base), rec(expr.lo), rec(expr.hi))
    if isinstance(expr, ListComp):
        # only the SOURCE may aggregate (``[x IN collect(y) | x * 2]``);
        # pred/expr reference the lambda variable and stay put
        return ListComp(expr.var, rec(expr.source), expr.pred, expr.expr)
    if isinstance(expr, ReduceExpr):
        return ReduceExpr(
            expr.acc, expr.init, expr.var, rec(expr.source), expr.expr
        )
    if isinstance(expr, MapLit):
        return MapLit(tuple((k, rec(v)) for k, v in expr.entries))
    if isinstance(expr, ListExpr):
        return ListExpr(tuple(rec(v) for v in expr.items))
    raise CypherSyntaxError(
        "aggregates are not supported inside this expression form; "
        "compute the aggregate in a WITH stage first"
    )


def _apply_projection(
    df: DataFrame, colmap, distinct: bool, items: list[ReturnItem]
) -> DataFrame:
    """One RETURN/WITH projection: Cypher's implicit grouping (non-aggregated
    items become keys when any aggregate is present), column order restored
    to clause order, optional DISTINCT.

    COMPOSITE aggregate items (an expression tree containing aggregates —
    ``sum(x) * 1.0 / count(*)``, ``round(avg(x), 2)``, ``CASE WHEN … THEN
    count(*) … END``, ``collect(x)[0]``) compile as TWO stages in one
    plan: the aggregate subtrees and implicit grouping keys feed the hash
    aggregate under hidden aliases, and the residual expression evaluates
    as a post-aggregation projection — Catalyst fuses both into the same
    whole-stage-codegen span, so this costs nothing over a hand-split
    WITH + RETURN."""
    def col_of(expr) -> Column:
        return _expr_column(expr, colmap, df)

    aggs = [i for i in items if isinstance(i.expr, AggCall)]
    composite = [
        i
        for i in items
        if not isinstance(i.expr, AggCall) and _contains_agg(i.expr)
    ]
    if aggs or composite:
        keys = [
            i for i in items if i not in aggs and i not in composite
        ]
        agg_reg: list = []
        key_reg: list = []
        residuals: dict[int, Any] = {}
        for i in composite:
            residuals[id(i)] = _decompose_agg_expr(
                i.expr, agg_reg, key_reg, keys
            )
        key_cols = [col_of(i.expr).alias(_out_name(i)) for i in keys]
        key_cols += [col_of(e).alias(alias) for e, alias in key_reg]
        agg_cols = [
            _agg_column(i.expr, colmap, df).alias(_out_name(i)) for i in aggs
        ]
        agg_cols += [
            _agg_column(call, colmap, df).alias(alias)
            for call, alias in agg_reg
        ]
        grouped = df.groupBy(*key_cols).agg(*agg_cols)
        if composite:
            post = _bare_colmap(
                set(grouped.columns), _struct_outputs(grouped), grouped
            )
            df = grouped.select(
                *[
                    _expr_column(residuals[id(i)], post, grouped).alias(
                        _out_name(i)
                    )
                    if id(i) in residuals
                    else F.col(_out_name(i))
                    for i in items
                ]
            )
        else:
            df = grouped.select(*[_out_name(i) for i in items])
    else:
        df = df.select(*[col_of(i.expr).alias(_out_name(i)) for i in items])
    if distinct:
        df = df.distinct()
    return df


#: Neo4j temporal-component accessors (``d.year`` on a date/datetime
#: value). dayOfWeek is ISO (Monday=1) like Neo4j — Spark's weekday() is
#: 0-based Monday. Time-of-day parts only apply to datetimes.
_TEMPORAL_ACCESSORS = {
    "year": F.year,
    "quarter": F.quarter,
    "month": F.month,
    "week": F.weekofyear,
    "day": F.day,
    "ordinalDay": F.dayofyear,
    "dayOfWeek": lambda c: F.weekday(c) + F.lit(1),
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
    "epochSeconds": F.unix_timestamp,
    "epochMillis": F.unix_millis,
}
_DATE_PARTS = frozenset(
    {"year", "quarter", "month", "week", "day", "ordinalDay", "dayOfWeek"}
)


def _bare_colmap(
    names: set[str],
    structs: dict[str, tuple[str, ...]] | None = None,
    frame: DataFrame | None = None,
):
    """colmap over a WITH stage's output: the row is named scalar columns,
    so only bare alias references resolve — pattern variables are out of
    scope past the WITH horizon (Cypher's scoping rule). ``structs`` maps
    struct-typed output names (a whole variable carried through WITH, a
    map projection) to their field names: ``n.born`` after ``WITH n``
    resolves to the struct field, and a field no write ever created reads
    null (the same missing-property contract as pattern scopes / Cypher's
    map access on a missing key). Each reference resolves once: a Column
    is immutable, and building one costs a dozen py4j round trips."""
    structs = structs or {}
    cols: dict[tuple, Column] = {}

    def colmap(ref) -> Column:
        key = (
            (ref.var, ref.prop)
            if isinstance(ref, PropRef)
            else getattr(ref, "name", None)
        )
        if key not in cols:
            cols[key] = resolve(ref)
        return cols[key]

    def resolve(ref) -> Column:
        if isinstance(ref, BareRef):
            if ref.name not in names:
                raise CypherSyntaxError(f"unknown name {ref.name!r} after WITH")
            return F.col(ref.name)
        if isinstance(ref, PropRef) and ref.var in structs:
            if ref.prop is None:
                # id(n) / the whole-variable null gate: the struct's id
                # field (only a carried whole variable has one)
                if "id" not in structs[ref.var]:
                    raise CypherSyntaxError(
                        f"{ref.var!r} is not a node or relationship "
                        "variable in this scope"
                    )
                return F.col(f"`{ref.var}`.`id`")
            if ref.prop in structs[ref.var]:
                return F.col(f"`{ref.var}`.`{ref.prop}`")
            return F.lit(None)
        if (
            isinstance(ref, PropRef)
            and ref.var in names
            and frame is not None
            and ref.prop in _TEMPORAL_ACCESSORS
        ):
            # d.year / d.month / ... — temporal-component access on a
            # projected date/datetime column (Neo4j accessor semantics);
            # time-of-day parts require a datetime
            dtype = _dtype_of(F.col(ref.var), frame) or ""
            if dtype.startswith("timestamp") or (
                dtype == "date" and ref.prop in _DATE_PARTS
            ):
                return _TEMPORAL_ACCESSORS[ref.prop](F.col(ref.var))
            if dtype == "date":
                raise CypherSyntaxError(
                    f"{ref.prop!r} is a time component; {ref.var!r} is a "
                    "date (no time of day)"
                )
        raise CypherSyntaxError(
            "references after WITH must use the WITH output names"
        )

    colmap.star_names = set(names)
    colmap.structs = dict(structs)
    return colmap


def _struct_outputs(df: DataFrame) -> dict[str, tuple[str, ...]]:
    """Struct-typed columns of a projected frame → their field names (the
    dot-access scope ``_bare_colmap`` serves after a WITH horizon)."""
    from pyspark.sql.types import StructType

    return {
        f.name: tuple(f.dataType.names)
        for f in df.schema.fields
        if isinstance(f.dataType, StructType)
    }


def _expand_star(items: list[ReturnItem], colmap, clause: str) -> list[ReturnItem]:
    """Expand ``*`` items against the clause scope: whole-variable items in
    a pattern scope (sorted; synthetic ``__``-prefixed variables hidden),
    bare projected names after a WITH horizon."""
    if not any(isinstance(i.expr, Star) for i in items):
        return items
    out: list[ReturnItem] = []
    for i in items:
        if not isinstance(i.expr, Star):
            out.append(i)
            continue
        var_props = getattr(colmap, "var_props", None)
        if var_props is not None:
            names = sorted(
                v for v in var_props if v is not None and not v.startswith("__")
            )
            if not names:
                raise CypherSyntaxError(f"{clause} * found no named variables")
            out.extend(ReturnItem(WholeVar(v), None) for v in names)
            continue
        star_names = getattr(colmap, "star_names", None)
        if star_names:
            out.extend(
                ReturnItem(BareRef(n), None)
                for n in sorted(star_names)
                if not n.startswith("__")
            )
            continue
        raise CypherSyntaxError(
            f"{clause} * is not supported in this clause position"
        )
    return out


def _local_rows(spark, rows: list[dict], clause: str) -> DataFrame:
    """The literal rows of a batch, list or CREATE pattern as one local
    frame (:func:`~flink_neo4j_spark.graph.local_frame`). A value that
    fits no single column type — values of different kinds under one
    key, an integer beyond 64 bits, a key null in every row — is a typed
    error, never a silently stringified or nulled value."""
    try:
        return local_frame(spark, rows)
    except TypeError as e:
        raise CypherSyntaxError(
            f"{clause} values must be type-consistent per key: {e}"
        ) from None


def _list_source(p: "_Parser", spark, clause: str):
    """The row source of ``UNWIND <list> AS x`` and ``FOREACH (x IN
    <list> | …)``, parsed at the parser's position: ``range(lo, hi[,
    step])``, a literal list or a ``$param`` list. The caller selects
    ``column`` from ``frame`` under its variable: one row per element.

    ``range`` compiles to ``spark.range``: a distributed, lazily
    generated relation, never a driver-side list, so ``range(1, 10^9)``
    behaves like any other scan; its bounds are integer literals or
    parameters, and a step pointing away from the bound yields no rows,
    as in Cypher. A list must be homogeneous — a mixed one raises here
    rather than failing or stringifying in Spark. Integers are 64-bit and
    int mixed with float promotes to float, as in Cypher; a list of maps
    becomes one struct row per map (a key missing from a map reads null).
    A null element yields one row with a null value.

    Returns ``(frame, column, struct field names or None)``; the frame
    is None for an empty list."""
    if (
        p.at("word")
        and p.peek().text == "range"
        and p.peek(1) is not None
        and p.peek(1).text == "("
    ):
        p.next()
        p.expect("punct", "(")
        rargs: list[int] = []
        while True:
            v = p.parse_value(None)
            if isinstance(v, bool) or not isinstance(v, int):
                raise CypherSyntaxError(
                    f"range() bounds in {clause} must be integer literals "
                    "or integer parameters"
                )
            rargs.append(v)
            if p.at("punct", ","):
                p.next()
                continue
            break
        p.expect("punct", ")")
        if len(rargs) not in (2, 3):
            raise CypherSyntaxError("range() takes 2 or 3 arguments")
        lo, hi = rargs[0], rargs[1]
        step = rargs[2] if len(rargs) > 2 else 1
        if step == 0:
            raise CypherSyntaxError("range() step must be non-zero")
        # inclusive hi → exclusive end, stepping toward the bound
        end = hi + (1 if step > 0 else -1)
        return spark.range(lo, end, step), F.col("id"), None
    if p.at("punct", "$"):
        vals = p.parse_value(None)
        if not isinstance(vals, list):
            raise CypherSyntaxError(f"{clause} $param requires a list value")
    else:
        p.expect("punct", "[")
        vals = []
        if not p.at("punct", "]"):
            while True:
                vals.append(p.parse_value(None))
                if p.at("punct", ","):
                    p.next()
                    continue
                break
        p.expect("punct", "]")
    kinds = set()
    for v in vals:
        if v is None:
            continue
        if isinstance(v, bool):
            kinds.add("boolean")
        elif isinstance(v, (int, float)):
            kinds.add("number")
        elif isinstance(v, str):
            kinds.add("string")
        elif isinstance(v, dict):
            kinds.add("map")
        else:
            kinds.add(type(v).__name__)
    if len(kinds) > 1:
        raise CypherSyntaxError(
            f"{clause} list must be homogeneous; got mixed "
            + "/".join(sorted(kinds))
        )
    if not vals:
        return None, None, None
    if kinds == {"map"}:
        allkeys = sorted({k for v in vals if v is not None for k in v})
        rows = [
            {
                "__isnull__": v is None,
                **{k: (None if v is None else v.get(k)) for k in allkeys},
            }
            for v in vals
        ]
        flat = _local_rows(spark, rows, f"{clause} map-list")
        row = F.when(
            ~F.col("__isnull__"), F.struct(*[F.col(k) for k in allkeys])
        )
        return flat, row, tuple(allkeys)
    arr = F.lit(vals)
    if kinds == {"number"}:
        if any(isinstance(v, float) for v in vals):
            arr = F.lit([None if v is None else float(v) for v in vals])
        else:
            arr = arr.cast("array<bigint>")
    return spark.range(1), F.explode(arr), None


def _path_accessors_ahead(p: "_Parser", var: str) -> bool:
    """Token lookahead: does the remaining query read ``nodes(var)`` or
    ``relationships(var)``? Decides whether the path compile must carry
    id arrays — carrying them unconditionally would widen the BFS /
    chain state for every named-path query that never asks."""
    toks = p.toks
    for k in range(p.i, len(toks) - 3):
        if (
            toks[k].kind == "word"
            and toks[k].text in ("nodes", "relationships")
            and toks[k + 1].text == "("
            and toks[k + 2].kind == "word"
            and toks[k + 2].text == var
            and toks[k + 3].text == ")"
        ):
            return True
    return False


def _read_single(graph: PropertyGraph, p: "_Parser") -> DataFrame:
    """One single-query starting at the parser's current position;
    trailing tokens (e.g. a following UNION) are left for the caller.

    ``MATCH <patterns> [WHERE ...] (MATCH <patterns> [WHERE ...])*
    (OPTIONAL MATCH <edge-pattern> [WHERE ...])* <tail>`` — or a
    standalone ``RETURN``/``WITH``, ``UNWIND`` or ``CALL { }`` source.
    Every MATCH form (a node, an edge, a named or unnamed variable-length
    path, a shortestPath seed, comma patterns, several clauses) binds
    into ONE scope, :func:`_match_chain`'s var-prefixed frame; each
    OPTIONAL MATCH, compiled by :func:`_anchored_match`, left-joins its
    side onto it anchored on a bound node (a failed optional pattern
    yields nulls, never drops the row). The tail (``WITH``/``UNWIND``/``MATCH``/``CALL`` stages, then
    ``RETURN``) is :func:`_finish_read`.

    Column names follow aliases when given, else ``id_<var>`` /
    ``<var>_<prop>`` (Cypher's positional results have no canonical names;
    DataFrames need them).
    """
    if p.at("kw", "RETURN") or p.at("kw", "WITH"):
        # standalone RETURN / WITH ... RETURN — expression evaluation over
        # one empty row (``RETURN 1 + 1 AS x``, ``WITH date($d) AS d
        # RETURN d.year``): the calculator / connectivity-probe idiom
        # every Neo4j client supports. One local row, no scan.
        spark = graph.vertices.sparkSession
        cm = _bare_colmap(set())
        cm.stage_graph = graph
        return _finish_read(spark.range(1).drop("id"), cm, p, bare=True)
    if p._at_word_ci("CALL") and p.peek(1) is not None and p.peek(1).text == "{":
        # CALL { <query> [UNION <query>]* } <pipeline> — the Neo4j 5
        # subquery block. Its headline use is POST-UNION processing
        # (aggregate/sort over a union — inexpressible with a bare UNION
        # chain); the inner chain compiles exactly like a top-level read
        # and its output columns become a bare scope for the tail
        # pipeline. Correlated (importing ``WITH``) forms are rejected at
        # the inner parse (unknown variable), not mis-answered.
        p.next()
        p.next()
        df = _read_union(graph, p)
        p.expect("punct", "}")
        return _finish_read(
            df,
            _bare_colmap(set(df.columns), _struct_outputs(df), df),
            p,
            bare=True,
        )
    if p.at("kw", "UNWIND"):
        # standalone UNWIND: ``range()``, a literal list or a $param list
        # as the row source — ``UNWIND [1, 2, 3] AS x RETURN x * 2 AS y``
        p.next()
        spark = graph.vertices.sparkSession
        base, col, fields = _list_source(p, spark, "UNWIND")
        p.expect("kw", "AS")
        alias = p.expect("word").text
        if base is None:
            base, col = spark.range(0), F.lit(None)
        df = base.select(col.alias(alias))
        cm = _bare_colmap({alias}, fields and {alias: fields}, df)
        cm.stage_graph = graph
        return _finish_read(df, cm, p, bare=True)
    p.expect("kw", "MATCH")
    sp_var = None
    sp_all = False
    path_var = None
    if (
        p.at("word")
        and p.peek(1) is not None
        and p.peek(1).text == "="
        and p.peek(2) is not None
        and p.peek(2).kind == "word"
        and p.peek(2).text in ("shortestPath", "allShortestPaths")
    ):
        sp_var = p.next().text
        p.next()  # =
        sp_all = p.next().text == "allShortestPaths"
        p.expect("punct", "(")
        pat = p.parse_pattern()
        p.expect("punct", ")")
        if not isinstance(pat, EdgePat) or pat.hops is None:
            raise CypherSyntaxError(
                "shortestPath requires a bounded variable-length pattern "
                "(a)-[:T*lo..hi]->(b)"
            )
        # comma siblings in the same MATCH clause: the path composes with
        # them as a chain seeded by the BFS frame
        seq = [pat]
        if p.at("punct", ","):
            p.next()
            seq = [pat, *p.parse_pattern_seq()]
    elif (
        p.at("word")
        and p.peek(1) is not None
        and p.peek(1).text == "="
        and p.peek(2) is not None
        and p.peek(2).kind == "punct"
        and p.peek(2).text == "("
    ):
        # MATCH p = (a)-[:T*lo..hi]->(b): a named path over a plain
        # variable-length pattern; length(p) reads the per-chain length,
        # nodes(p)/relationships(p) read the per-chain id arrays.
        path_var = p.next().text
        p.next()  # =
        pat = p.parse_pattern()
        if not isinstance(pat, EdgePat) or pat.hops is None:
            raise CypherSyntaxError(
                "a path variable requires a variable-length pattern "
                "(a)-[:T*lo..hi]->(b) or shortestPath()/allShortestPaths()"
            )
        pat.path = path_var
        seq = [pat]
    else:
        seq = p.parse_pattern_seq()
        pat = seq[0]
    #: every MATCH clause's WHERE — each a conjunct over the joined
    #: pattern (all clauses are inner joins, so post-join filtering is
    #: equivalent)
    chain_disjs: list = []
    if p.at("kw", "WHERE"):
        p.next()
        chain_disjs.append(p.parse_where())
    chain_pats = list(seq)
    #: per-MATCH-clause pattern groups — openCypher's relationship
    #: isomorphism (distinct edges) holds WITHIN one MATCH clause, not
    #: across clauses
    groups: list[list[NodePat | EdgePat]] = [list(seq)]
    while p.at("kw", "MATCH"):  # multi-clause MATCH chain
        p.next()
        g = p.parse_pattern_seq()
        chain_pats.extend(g)
        groups.append(g)
        if p.at("kw", "WHERE"):
            p.next()
            chain_disjs.append(p.parse_where())
    # inline property maps desugar to one more conjunct; synthetic
    # variables must avoid every user variable across all clauses, so
    # collect first
    taken = _pattern_vars(chain_pats)
    prop_conds = _desugar_inline_props(chain_pats, taken)
    if prop_conds:
        chain_disjs.append([list(prop_conds)])
    opt_clauses: list = []
    while p._at_word_ci("OPTIONAL"):
        p.next()
        p.expect("kw", "MATCH")
        opt_pat = p.parse_pattern()
        opt_disj = None
        if p.at("kw", "WHERE"):
            p.next()
            opt_disj = p.parse_where()
        opt_clauses.append((opt_pat, opt_disj))
    # the scope keys every column and join on variable names, so
    # anonymous elements get synthetic dunder names
    _assign_anon_vars(chain_pats, taken)
    seed = None
    if sp_var is not None:
        # Same-clause relationship uniqueness between the path's
        # internal edges and a sibling relationship is only vacuously
        # satisfiable when their type sets cannot overlap — Neo4j
        # re-selects among TIED shortest paths in the overlapping case,
        # so silently filtering our one representative path would
        # mis-answer; that case stays a loud typed error (workaround: a
        # separate MATCH clause, where openCypher scopes uniqueness per
        # clause).
        for sib in groups[0][1:]:
            if isinstance(sib, EdgePat) and _rel_types_overlap(
                pat.rel_type, sib.rel_type
            ):
                raise CypherSyntaxError(
                    "a relationship sharing a MATCH clause with "
                    "shortestPath() needs a relationship type "
                    "disjoint from the path's; move it to its own "
                    "MATCH clause"
                )
        if len({pat.src.var, pat.dst.var, sp_var}) < 3:
            raise CypherSyntaxError(
                "shortestPath endpoints and path need distinct variables"
            )
        seed = _shortest_path(
            graph,
            pat,
            sp_var,
            all_paths=sp_all,
            carry_paths=_path_accessors_ahead(p, sp_var),
            src_conds=_common_single_var_conds(chain_disjs, pat.src.var),
        )
        chain_pats, groups[0] = chain_pats[1:], groups[0][1:]
    df, colmap = _match_chain(
        graph,
        chain_pats,
        groups,
        chain_disjs,
        carry_paths=path_var is not None and _path_accessors_ahead(p, path_var),
        seed=seed,
    )
    for d in chain_disjs:
        df = _apply_scope_where(df, colmap, d)
    # OPTIONAL MATCH: one left equi-join per clause onto the scope frame.
    # The anchor may be a variable of an EARLIER optional clause: a failed
    # binding has a null id, which never equi-joins, so the chain
    # null-extends transitively (Neo4j). A WHERE that reaches outside the
    # side rides the left-join condition, so failing rows null-extend
    # instead of dropping. Stacked clauses multiply per Neo4j: m and n
    # matches in two clauses give m*n rows (1 where a side is empty).
    for i, (opt_pat, opt_disj) in enumerate(opt_clauses):
        a = _anchored_match(
            df, colmap, opt_pat, opt_disj, True, i, "OPTIONAL MATCH"
        )
        joined = _scope_colmap(graph, {**colmap.scope, **a.colmap.scope})
        on = a.on
        if a.rest is not None:
            # the cross join is a SCHEMA PROBE only (never executed):
            # computed operands type-check against both sides' columns;
            # the compiled Column rides the real left join
            probe = df.crossJoin(a.side)
            on = on & F.coalesce(
                _where_to_column(a.rest, joined, set(probe.columns), probe),
                F.lit(False),
            )
        df, colmap = df.join(a.side, on, "left"), joined
    colmap.stage_graph = graph
    return _finish_read(df, colmap, p, bare=False)


def _apply_scope_where(df: DataFrame, colmap, disj) -> DataFrame:
    """One WHERE over a MATCH scope or a WITH stage, with the full operand
    machinery: pattern predicates compile to one semi/anti-join each
    against their :func:`_pattern_side`'s anchor column (never the
    per-node match multiplicity), anchored by :func:`_pattern_anchor`;
    COUNT { } / pattern-comprehension operands bind per-node helper
    columns via left joins, dropped after the filter; the residue
    filters through ``_where_to_column``. Every MATCH clause's WHERE and
    every stage WHERE after WITH goes through here."""
    if disj is None:
        return df
    if any(isinstance(c, PatternCond) for conj in disj for c in conj):
        if len(disj) > 1:
            raise CypherSyntaxError(
                "pattern predicates cannot be OR-combined"
            )
        for pc in disj[0]:
            if not isinstance(pc, PatternCond):
                continue
            graph, outer_id = _pattern_anchor(
                colmap, pc.var, "pattern predicates"
            )
            side, anchor, _ = _pattern_side(graph, pc)
            df = df.join(
                side.select(F.col(anchor).alias("__pp_id")),
                outer_id == F.col("__pp_id"),
                "left_anti" if pc.negated else "left_semi",
            )
        rest = [c for c in disj[0] if not isinstance(c, PatternCond)]
        disj = [rest] if rest else None
    helpers: list[str] = []
    if disj is not None and _disj_contains(disj, (CountPattern, PatternComp)):
        df, helpers = _bind_pattern_subqueries(df, colmap, None, disj)
    if disj is not None:
        df = df.filter(_where_to_column(disj, colmap, set(df.columns), df))
    # the helper columns are spent: a later binding never meets them
    return df.drop(*helpers) if helpers else df


def _expr_vars(x, out: set[str]) -> None:
    """Collect every variable/alias name referenced by expression ``x``
    (PropRef vars and bare names) into ``out`` — used to validate that an
    unanchored pipeline-MATCH WHERE actually correlates the new pattern
    variable with the outer scope."""
    if isinstance(x, PropRef):
        out.add(x.var)
    elif isinstance(x, BareRef):
        out.add(x.name)
    elif isinstance(x, (BinOp,)):
        _expr_vars(x.left, out)
        _expr_vars(x.right, out)
    elif isinstance(x, FuncCall):
        _expr_vars(x.arg, out)
        for a in x.extra:
            _expr_vars(a, out)
    elif isinstance(x, IsNullExpr):
        _expr_vars(x.arg, out)
    elif isinstance(x, (IndexExpr, SliceExpr)):
        _expr_vars(x.base, out)
        for a in (getattr(x, "index", None), getattr(x, "lo", None),
                  getattr(x, "hi", None)):
            _expr_vars(a, out)
    elif isinstance(x, FieldAccess):
        _expr_vars(x.base, out)
    elif isinstance(x, ListComp):
        _expr_vars(x.source, out)
        # the lambda body can reference OUTER variables too (e.g.
        # ``[x IN a.tags WHERE x = b.name]`` references b) — collect them,
        # minus the comprehension-bound name, so single-var classification
        # (_common_single_var_conds) never pushes a two-var conjunct into a
        # one-var prefilter
        inner: set[str] = set()
        if x.pred is not None:
            _disj_vars(x.pred, inner)
        _expr_vars(x.expr, inner)
        inner.discard(x.var)
        out |= inner
    elif isinstance(x, ReduceExpr):
        _expr_vars(x.init, out)
        _expr_vars(x.source, out)
        inner = set()
        _expr_vars(x.expr, inner)
        inner.discard(x.var)
        inner.discard(x.acc)
        out |= inner
    elif isinstance(x, CaseExpr):
        for disj, res in x.whens:
            _disj_vars(disj, out)
            _expr_vars(res, out)
        _expr_vars(x.default, out)
    elif isinstance(x, MapLit):
        for _, v in x.entries:
            _expr_vars(v, out)
    elif isinstance(x, ListExpr):
        for v in x.items:
            _expr_vars(v, out)


def _disj_vars(disj, out: set[str]) -> None:
    for conj in disj:
        for cond in conj:
            if hasattr(cond, "left"):
                _expr_vars(cond.left, out)
                _expr_vars(getattr(cond, "right", None), out)


def _finish_read(df: DataFrame, colmap, p: "_Parser", bare: bool) -> DataFrame:
    """Shared tail of every read form: ``[WITH ... | UNWIND x AS y |
    [OPTIONAL] MATCH ... | CALL { WITH n ... }]* RETURN items [ORDER BY
    ...] [SKIP n] [LIMIT m]`` — parsed and executed stage by stage
    (openCypher clause order ``WITH items [ORDER BY/LIMIT] [WHERE]``).
    ``bare`` is True when the incoming row scope is named scalar columns
    (a standalone UNWIND source) rather than pattern variables; every
    WITH horizon flips the scope to bare.

    A pipeline MATCH and a correlated CALL compile their pattern through
    :func:`_anchored_match`, then differ only in what they do with the
    side: MATCH joins it and binds each new variable as a struct column
    (:func:`_carry_new_vars`); CALL builds its per-anchor rows first
    (:func:`_call_rows`). The unanchored ``MATCH (n:L) WHERE id(n) = x``
    lookup binds its variable the same way."""
    graph = getattr(colmap, "stage_graph", None)
    wopt_n = 0
    while (
        p.at("kw", "WITH")
        or p.at("kw", "UNWIND")
        or (
            p._at_word_ci("OPTIONAL")
            or p.at("kw", "MATCH")
            or (
                p._at_word_ci("CALL")
                and p.peek(1) is not None
                and p.peek(1).text == "{"
            )
        )
    ):
        if not bare and not (p.at("kw", "WITH") or p.at("kw", "UNWIND")):
            # MATCH/CALL directly after a pattern clause (no interposed
            # WITH) — openCypher allows it; desugar by injecting an
            # implicit ``WITH *`` so the pattern scope flips to the bare
            # carried-variable scope every stage form already speaks.
            p.toks[p.i:p.i] = [_Tok("kw", "WITH"), _Tok("punct", "*")]
            continue
        if p._at_word_ci("CALL"):
            # correlated CALL subquery (Neo4j 5 importing WITH):
            # ``WITH n CALL { WITH n MATCH (n)-[e:T]->(m[:L]) [WHERE …]
            # RETURN items ORDER BY … LIMIT k }`` — the per-anchor-row
            # subquery whose canonical use is TOP-K-PER-KEY: ORDER BY +
            # SKIP/LIMIT apply PER anchor, never globally, on the side
            # BEFORE the join (_call_rows), so the cut prunes the fan-out
            # ahead of the outer row multiplication. Plain CALL
            # inner-joins (anchors with no inner rows drop, per Neo4j); an
            # aggregate-only RETURN keeps every anchor (left join, typed
            # empty defaults).
            if graph is None:
                raise CypherSyntaxError(
                    "CALL after WITH requires a graph scope"
                )
            p.next()
            p.next()  # {
            if not p.at("kw", "WITH"):
                raise CypherSyntaxError(
                    "CALL { } mid-pipeline must import its anchor "
                    "(CALL { WITH n MATCH (n)-[e:T]->(m) … }); the "
                    "uncorrelated form is only valid at the start of a "
                    "query"
                )
            p.next()
            ivar = p.expect("word").text
            structs = dict(getattr(colmap, "structs", {}))
            names = set(getattr(colmap, "star_names", set())) | set(structs)
            if ivar not in structs or "id" not in structs[ivar]:
                raise CypherSyntaxError(
                    f"CALL imports {ivar!r}, which is not a carried node "
                    "in scope (WITH n CALL { WITH n … })"
                )
            p.expect("kw", "MATCH")
            cpat = p.parse_pattern()
            c_disj = None
            if p.at("kw", "WHERE"):
                p.next()
                c_disj = p.parse_where()
            p.expect("kw", "RETURN")
            c_distinct, c_items = p.parse_return(allow_bare=False)
            c_order, c_skip, c_limit = p.parse_tail(
                require_end=False, allow_bare=False
            )
            p.expect("punct", "}")
            if isinstance(cpat, EdgePat) and ivar not in (
                cpat.src.var, cpat.dst.var
            ):
                raise CypherSyntaxError(
                    "the imported variable must be exactly one endpoint "
                    "of the CALL pattern"
                )
            a = _anchored_match(
                df, colmap, cpat, c_disj, False, wopt_n, "correlated CALL"
            )
            wopt_n += 1
            if a.rest is not None:
                raise CypherSyntaxError(
                    "a CALL subquery WHERE may only reference its own "
                    "pattern variables"
                )
            out_names = [_out_name(i) for i in c_items]
            for nm in out_names:
                if nm in names:
                    raise CypherSyntaxError(
                        f"CALL output {nm!r} collides with a variable "
                        "already in scope; alias it"
                    )
            rows, agg_only = _call_rows(
                a, c_items, c_distinct, c_order, c_skip, c_limit
            )
            df = a.df.join(
                rows, a.on, "left" if agg_only else "inner"
            ).drop(a.anchor)
            if agg_only:
                # aggregation over zero rows still yields a row: count 0,
                # collect [] (sum/min/max stay null)
                side_types = dict(rows.dtypes)
                for i, nm in zip(c_items, out_names):
                    if i.expr.fn == "COUNT":
                        empty = F.lit(0).cast("long")
                    elif i.expr.fn == "COLLECT":
                        empty = F.array().cast(side_types[nm])
                    else:
                        continue
                    df = df.withColumn(nm, F.coalesce(F.col(nm), empty))
            colmap = _stage_colmap(colmap, names | set(out_names), df)
            continue
        if p._at_word_ci("OPTIONAL") or p.at("kw", "MATCH"):
            # pipeline [OPTIONAL] MATCH: re-expand off a WITH-carried node
            # (``MATCH … WITH n, … [OPTIONAL] MATCH (n)-[e:T]->(m) …``) —
            # one equi-join on the carried struct's id (left for OPTIONAL,
            # inner for plain MATCH), exactly the first-stage shape
            optional = p._at_word_ci("OPTIONAL")
            if graph is None:
                raise CypherSyntaxError(
                    "MATCH after WITH requires a graph scope"
                )
            if optional:
                p.next()
            p.expect("kw", "MATCH")
            opt = p.parse_pattern()
            if p.at("arrow", "-[") or p.at("arrow", "<-["):
                raise CypherSyntaxError(
                    "OPTIONAL MATCH supports a single-hop edge pattern "
                    "(a)-[e]->(b); chain a second OPTIONAL MATCH instead"
                )
            opt_disj = None
            if p.at("kw", "WHERE"):
                p.next()
                opt_disj = p.parse_where(allow_bare=True)
            structs = dict(getattr(colmap, "structs", {}))
            names = set(getattr(colmap, "star_names", set()))
            if isinstance(opt, NodePat) and not optional:
                # unanchored pipeline MATCH — the parameter-batch lookup
                # idiom ``UNWIND $ids AS uid MATCH (n:User) WHERE
                # id(n) = uid``: a fresh node scan joined to the current
                # rows. The clause REQUIRES a WHERE correlating the new
                # variable with the outer scope; the plan is a crossJoin
                # + correlated filter that Catalyst rewrites into an
                # equi-join when the correlation is an equality — the
                # scale-correct shape — while an uncorrelated pattern
                # (a true cartesian) is rejected loudly, matching the
                # first-stage shared-variable contract.
                if opt.var is None:
                    raise CypherSyntaxError(
                        "pipeline MATCH node pattern needs a variable"
                    )
                if opt.var in structs or opt.var in names:
                    raise CypherSyntaxError(
                        f"variable {opt.var!r} is already bound in this "
                        "scope"
                    )
                if opt.props:
                    # inline property map = implicit WHERE conjuncts on
                    # the fresh variable; they AND into every disjunct
                    # (maps distribute over OR) and cannot themselves
                    # correlate, so the top-level equality requirement
                    # below still applies unchanged
                    pconds = [
                        Cond(PropRef(opt.var, k), "=", v)
                        for k, v in opt.props.items()
                    ]
                    opt.props = {}
                    opt_disj = _and_into(opt_disj, pconds)
                outer_scope = set(structs) | names

                def _equi_key(cond) -> tuple | None:
                    # canonical key of a conjunct that is an EQUALITY
                    # between an expression over ONLY the fresh variable
                    # and an expression over ONLY outer-scope variables —
                    # the exact shape Catalyst rewrites from
                    # crossJoin+filter into an equi-join. Anything weaker
                    # (correlation inside an OR branch only, a
                    # non-equality correlation, variables mixed on one
                    # side) still plans a true nested-loop cartesian.
                    if (
                        not isinstance(cond, Cond)
                        or cond.negated
                        or cond.op != "="
                    ):
                        return None
                    lv: set[str] = set()
                    rv: set[str] = set()
                    _expr_vars(cond.left, lv)
                    _expr_vars(cond.right, rv)
                    if lv == {opt.var} and rv and rv <= outer_scope:
                        return (repr(cond.left), repr(cond.right))
                    if rv == {opt.var} and lv and lv <= outer_scope:
                        return (repr(cond.right), repr(cond.left))
                    return None

                # the correlating equality must be a TOP-LEVEL conjunct:
                # in DNF that means one canonical equality present in
                # EVERY branch ('n.born = 1 OR y = 2' has a branch with
                # none; 'id(n)=uid OR id(n)=uid2' correlates each branch
                # on a different key — both stay nested-loop cartesians
                # and are rejected loudly per the scale contract).
                common: set[tuple] | None = None
                for conj in opt_disj or []:
                    keys = {k for k in map(_equi_key, conj) if k is not None}
                    common = keys if common is None else (common & keys)
                if not common:
                    raise CypherSyntaxError(
                        "MATCH with a fresh node pattern after "
                        "WITH/UNWIND needs a WHERE with a top-level "
                        "equality conjunct correlating it to the current "
                        "rows (e.g. WHERE id(n) = uid) — anything weaker "
                        "would be a cartesian product"
                    )
                op = f"__wo{wopt_n}_"
                wopt_n += 1
                df = _carry_new_vars(
                    df.crossJoin(
                        prefixed(
                            graph.nodes(opt.label), op, graph.vertices.columns
                        )
                    ),
                    _scope_colmap(graph, {opt.var: ("node", op)}),
                    [opt.var],
                )
                colmap = _stage_colmap(
                    colmap, names | set(structs) | {opt.var}, df
                )
                df = df.filter(
                    _where_to_column(opt_disj, colmap, set(df.columns), df)
                )
                continue
            a = _anchored_match(
                df, colmap, opt, opt_disj, optional, wopt_n,
                "OPTIONAL MATCH" if optional else "MATCH after WITH",
            )
            wopt_n += 1
            if a.rest is not None:
                raise CypherSyntaxError(
                    "a MATCH WHERE after WITH may only reference its own "
                    "pattern variables"
                )
            df = _carry_new_vars(
                a.df.join(a.side, a.on, "left" if optional else "inner"),
                a.colmap,
                a.new_vars,
            )
            colmap = _stage_colmap(colmap, names | set(a.new_vars), df)
            continue
        if p.at("kw", "UNWIND"):
            # pipeline UNWIND: explode a projected list into one row per
            # element, keeping the other columns (openCypher: null and
            # empty lists produce no rows — exactly Spark's explode).
            # Pattern scopes must project the list through WITH first
            # (pattern variables end at the horizon).
            if not bare:
                raise CypherSyntaxError(
                    "UNWIND over a pattern scope needs a preceding WITH "
                    "(project the list first: WITH n.tags AS tags "
                    "UNWIND tags AS tag)"
                )
            p.next()
            src = p.parse_return_expr(allow_bare=True)
            if _contains_agg(src):
                raise CypherSyntaxError(
                    "UNWIND over an aggregate needs a WITH stage first"
                )
            p.expect("kw", "AS")
            alias = p.expect("word").text
            # UNWIND over a pattern comprehension off a carried node
            # (``WITH n UNWIND [(n)-[:T]->(m) | m.x] AS v``): bind the
            # per-node list first, then explode it like any list source
            pseudo = [ReturnItem(src, alias)]
            df, helpers = _bind_pattern_subqueries(df, colmap, pseudo)
            src = pseudo[0].expr
            pend = getattr(colmap, "row_order", None)
            if pend:
                # a pending (deferred) sort must materialize before the
                # explode: UNWIND preserves row order in Neo4j, and the
                # exploded rows are no longer coverable by the keys
                df = df.orderBy(*_specs_columns(pend, colmap, df))
            df = df.withColumn(alias, F.explode(_expr_column(src, colmap, df)))
            if helpers:
                df = df.drop(*helpers)
            names = set(getattr(colmap, "star_names", set())) | {alias}
            # struct scopes survive the explode (their columns do); any
            # row-order metadata does NOT (element order within a row is
            # not covered by the WITH-stage keys)
            structs = {
                k: v
                for k, v in getattr(colmap, "structs", {}).items()
                if k != alias
            }
            colmap = _bare_colmap(names, structs, df)
            colmap.stage_graph = graph
            continue
        p.next()
        w_distinct, w_items = p.parse_return(allow_bare=bare)
        w_order, w_skip, w_limit = p.parse_tail(
            require_end=False, allow_bare=bare
        )
        w_disj = None
        if p.at("kw", "WHERE"):
            p.next()
            w_disj = p.parse_where(allow_bare=True)
        w_items = _expand_star(w_items, colmap, "WITH")
        df, _ = _bind_pattern_subqueries(df, colmap, w_items)
        prev_specs = getattr(colmap, "row_order", None)
        carry_items = list(w_items)
        next_specs = None
        if (
            not w_order
            and prev_specs
            and not w_distinct
            and not any(_contains_agg(i.expr) for i in w_items)
        ):
            # Neo4j: row order persists through a plain projection. Remap
            # each key to the new scope; keys falling out of the
            # projection ride along as hidden __ord columns (dropped
            # implicitly at the next aggregate/RETURN projection).
            next_specs = _remap_specs(prev_specs, w_items)
            if next_specs is None:
                carry_items = w_items + [
                    ReturnItem(ast, f"__ord{i}")
                    for i, (ast, _) in enumerate(prev_specs)
                ]
                next_specs = [
                    (BareRef(f"__ord{i}"), asc)
                    for i, (_, asc) in enumerate(prev_specs)
                ]
        df = _apply_projection(df, colmap, w_distinct, carry_items)
        colmap = _bare_colmap(
            {_out_name(i) for i in carry_items}, _struct_outputs(df), df
        )
        colmap.stage_graph = graph
        if w_order:
            # row-order metadata, NOT a physical sort: a later collect()
            # re-sorts per group from these keys (_ordered_collect), so
            # the global sort only materializes where row order is
            # OBSERVABLE — SKIP/LIMIT here, UNWIND, or a plain final
            # RETURN. At scale this turns Cypher's ordered-collect idiom
            # into one hash aggregate instead of a total sort + aggregate
            # (Catalyst cannot elide the sort itself: collect_list is
            # order-sensitive to it). Keys are still VALIDATED eagerly —
            # a bad ORDER BY raises here, deferred or not.
            _order_columns(w_order, w_items, "WITH", df)
            colmap.row_order = _order_specs(w_order, w_items)
        elif next_specs:
            colmap.row_order = next_specs
        if w_skip is not None or w_limit is not None:
            pend = getattr(colmap, "row_order", None)
            if pend:
                df = df.orderBy(*_specs_columns(pend, colmap, df))
            if w_skip is not None:
                df = df.offset(w_skip)
            if w_limit is not None:
                df = df.limit(w_limit)
        df = _apply_scope_where(df, colmap, w_disj)
        bare = True
    p.expect("kw", "RETURN")
    distinct, items = p.parse_return(allow_bare=bare)
    order, skip, limit = p.parse_tail(require_end=False, allow_bare=bare)
    items = _expand_star(items, colmap, "RETURN")
    df, _ = _bind_pattern_subqueries(df, colmap, items)
    pending = getattr(colmap, "row_order", None)
    pre_scope = None
    if (
        pending
        and not order
        and not any(_contains_agg(i.expr) for i in items)
    ):
        # final RETURN after a WITH ... ORDER BY: the deferred sort
        # defines the result order. Sort after the projection when every
        # key survives into it (narrower sort input), else before (a
        # Project preserves row order). DISTINCT is order-OBSERVABLE
        # (Neo4j: ``WITH v ORDER BY v DESC RETURN DISTINCT v LIMIT 2``
        # returns the top values in order) and ``.distinct()`` destroys
        # row order, so the sort must re-apply AFTER the dedup — possible
        # only when every sort key survives the projection; a key that
        # falls out of scope would make the post-dedup order unprovable,
        # so that combination raises rather than mis-answering.
        remapped = _remap_specs(pending, items)
        if remapped is None:
            if distinct:
                raise CypherSyntaxError(
                    "RETURN DISTINCT after WITH ... ORDER BY requires "
                    "every ORDER BY key to appear among the RETURN items "
                    "(DISTINCT re-sorts after dedup; a dropped key would "
                    "leave the declared order unrecoverable)"
                )
            df = df.orderBy(*_specs_columns(pending, colmap, df))
            df = _apply_projection(df, colmap, distinct, items)
        else:
            df = _apply_projection(df, colmap, distinct, items)
            post = _bare_colmap(
                {_out_name(i) for i in items}, _struct_outputs(df), df
            )
            df = df.orderBy(*_specs_columns(remapped, post, df))
    else:
        pre_scope = (df, colmap)
        df = _apply_projection(df, colmap, distinct, items)
    if order:
        try:
            df = df.orderBy(*_order_columns(order, items, "RETURN", df))
        except CypherSyntaxError:
            # Neo4j: RETURN ... ORDER BY may sort by ANY expression over
            # variables still in scope, not only projected columns
            # (``RETURN properties(n) AS p ORDER BY n.name``). Re-project
            # with hidden __ord columns computed in the PRE-projection
            # scope, sort, drop. Not reachable for DISTINCT (dedup
            # destroys hidden keys — Neo4j rejects this too) or
            # aggregating projections (a non-grouped sort key is
            # meaningless; the original error stands).
            if (
                pre_scope is None
                or distinct
                or any(_contains_agg(i.expr) for i in items)
                or any(_contains_agg(k) for k, _ in order)
            ):
                raise
            pdf, pcolmap = pre_scope
            pseudo = list(items)
            specs: list[tuple[str, bool]] = []
            for i, (k, asc) in enumerate(order):
                if isinstance(k, str):
                    match = next(
                        (it for it in items if _out_name(it) == k), None
                    )
                    if match is None:
                        raise
                    k = match.expr
                pseudo.append(ReturnItem(k, f"__ord{i}"))
                specs.append((f"__ord{i}", asc))
            df = _apply_projection(pdf, pcolmap, False, pseudo)
            df = df.orderBy(
                *[_order_dir(F.col(n), asc) for n, asc in specs]
            ).drop(*[n for n, _ in specs])
    if skip is not None:
        # openCypher SKIP: drop the first n rows of the (ordered) result —
        # Catalyst plans Offset; without an ORDER BY the dropped prefix is
        # engine-dependent, exactly as in Neo4j.
        df = df.offset(skip)
    if limit is not None:
        df = df.limit(limit)
    return _strip_dur_tag(df)


def _strip_dur_tag(df: DataFrame) -> DataFrame:
    """Final-RETURN cleanup: the ``__dur`` sentinel is a compiler-internal
    type tag (see ``DUR_TAG``) that must survive every intermediate WITH
    horizon — duration arithmetic dispatches on it — but is NOT part of
    Neo4j's duration value, so a whole duration projected by the final
    RETURN sheds it here (top-level structs and collect()ed lists of
    durations, the two shapes the surface can produce). Pure projection:
    no shuffle, row order preserved."""
    for name, dtype in df.dtypes:
        if _dur_fields(dtype) is not None:
            df = df.withColumn(name, F.col(name).dropFields(DUR_TAG))
        else:
            mo = re.fullmatch(r"array<(struct<[^<>]*>)>", dtype)
            if mo is not None and _dur_fields(mo.group(1)) is not None:
                df = df.withColumn(
                    name,
                    F.transform(F.col(name), lambda x: x.dropFields(DUR_TAG)),
                )
    return df


def _has_extra_labels(df: DataFrame) -> bool:
    """Cheap schema scan: does any column (or struct field) carry the
    multi-label extras? Gates the extra-labels resolution probes so
    graphs that were never label-mutated — the vast majority — never even
    attempt the analysis (the failed probe would log a spurious Spark
    ERROR line per labels() call)."""
    from pyspark.sql.types import StructType

    for f in df.schema.fields:
        if f.name == EXTRA_LABELS or f.name.endswith(EXTRA_LABELS):
            return True
        if isinstance(f.dataType, StructType) and EXTRA_LABELS in f.dataType.names:
            return True
    return False


def _typed_analysis_errors(fn):
    """API-boundary guard: Spark ANALYSIS errors from unsupported type
    combinations (size() of a map, toInteger() of a struct, subscripting
    with a non-integer, …) surface as OUR typed error — the loud-error
    contract — instead of a raw AnalysisException. Runtime errors (ANSI
    cast failures during execution) still fail the job loudly at the
    action; they never mis-answer."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        from pyspark.errors import AnalysisException

        try:
            return fn(*args, **kwargs)
        except AnalysisException as e:
            raise CypherSyntaxError(
                "unsupported type combination in query: "
                + str(e).splitlines()[0][:220]
            ) from e

    return wrapped


@_typed_analysis_errors
def cypher_read(
    graph: PropertyGraph,
    query: str,
    params: dict[str, Any] | None = None,
) -> DataFrame:
    """Execute a read-only query — one single-query (see
    :func:`_read_single` for the clause surface) or several combined with
    ``UNION`` / ``UNION ALL``. Each single-query's MATCH clauses bind into
    one scope: every pattern variable's columns on one frame under the
    variable's prefix, resolved by one colmap, where an unknown variable
    raises and a property no write created reads null.

    openCypher UNION rules enforced: every part must return the SAME
    column names, and plain UNION deduplicates the combined rows (one
    ``distinct()`` over the union — for an all-UNION chain Spark collapses
    the repeated dedups into one aggregate). ``unionByName`` keeps the
    match positional-independent, mirroring Cypher's by-name semantics.

    ``params`` resolves ``$name`` references (WHERE operands, inline
    maps, IN lists, UNWIND sources, RETURN literals) to their values at
    parse time — a parameterized query plans exactly like its literal
    twin, and values can never act as syntax (the reference ships
    parameters the same way: `Neo4jOutputFormat` sends them out-of-band
    next to the statement, never spliced into it).
    """
    p = _Parser(_tokenize(query), params)
    df = _read_union(graph, p)
    if p.peek() is not None:
        raise CypherSyntaxError(f"unexpected token {p.peek().text!r}")
    return df


def _read_union(graph: PropertyGraph, p: "_Parser") -> DataFrame:
    """A single-query chain combined with ``UNION`` / ``UNION ALL`` —
    the shared body of a top-level read and a ``CALL { … }`` block."""
    df = _read_single(graph, p)
    while p._at_word_ci("UNION"):
        p.next()
        dedup = True
        if p._at_word_ci("ALL"):
            p.next()
            dedup = False
        rhs = _read_single(graph, p)
        if df.columns != rhs.columns:
            raise CypherSyntaxError(
                "all parts of a UNION must return the same column names: "
                f"{df.columns} vs {rhs.columns}"
            )
        df = df.unionByName(rhs)
        if dedup:
            df = df.distinct()
    return df


# -- translation: writes ---------------------------------------------------


def _resolve(value: Any, row: dict[str, Any]) -> Any:
    if isinstance(value, tuple) and len(value) == 2 and value[0] == "__param__":
        return row.get(value[1])
    return value


@dataclass
class SetList:
    """One parsed SET / REMOVE item list — the single representation of a
    property write: ordered ``prop → value`` (``None`` removes the
    property), the labels it adds and removes (node targets only), and
    whether a ``SET x = {map}`` replaces every unlisted property."""

    values: dict[str, Any] = field(default_factory=dict)
    add_labels: list[str] = field(default_factory=list)
    remove_labels: list[str] = field(default_factory=list)
    replace: bool = False


def _parse_set_list(
    p: _Parser,
    var: str,
    reserved: tuple[str, ...],
    value,
    removing: bool = False,
) -> SetList:
    """The items after ``SET`` (or ``REMOVE`` with ``removing``), comma
    separated: ``x.p = v``, ``x += {k: v, …}`` / ``x += $m`` (map merge:
    listed properties overwrite, the rest stay), ``x = {…}`` / ``x = $m``
    (replace: unlisted properties are removed too), ``x:L[:M…]`` (labels),
    and under REMOVE ``x.p`` / ``x:L``.

    ``value()`` parses one right-hand side — ``parse_value`` over the
    UNWIND variable for batch writes, a full expression for bare ones.
    ``reserved`` names what no item may assign: the target's structural
    columns plus any key the write matches on. A target whose reserved
    columns lack ``label`` is a relationship and takes no label items.
    One property assigned twice in the list is an error in every form;
    so is a map value (Neo4j stores scalars and lists only)."""
    out = SetList()
    clause = "REMOVE" if removing else "SET"

    def assign(prop: str, val: Any) -> None:
        if prop in reserved:
            if prop not in STRUCTURAL:
                raise CypherSyntaxError(
                    f"cannot {clause} {prop!r}: it is the MERGE key / match "
                    "key of this write"
                )
            hint = (
                "; labels change with SET n:Label / REMOVE n:Label"
                if prop in ("label", EXTRA_LABELS)
                else ""
            )
            raise CypherSyntaxError(f"reserved property name {prop!r}{hint}")
        if prop in out.values:
            raise CypherSyntaxError(
                f"property {prop!r} assigned twice in one {clause}"
            )
        if isinstance(val, (dict, MapLit, MapProj)):
            raise CypherSyntaxError(
                f"cannot store a map in property {prop!r}: property values "
                f"are scalars or lists (use {var} += {{…}} to set several)"
            )
        out.values[prop] = val

    def target() -> None:
        if p.expect("word").text != var:
            raise CypherSyntaxError(f"{clause} target must be {var!r}")

    while True:
        nxt, nxt2 = p.peek(1), p.peek(2)
        if (
            p.at("word")
            and nxt is not None
            and nxt.kind == "punct"
            and nxt.text == ":"
        ):
            if "label" not in reserved:
                raise CypherSyntaxError(
                    "relationships have exactly one type; SET e:Label is "
                    "not defined (Neo4j errors here too)"
                )
            target()
            while p.at("punct", ":"):
                p.next()
                lbl = p.expect("word").text
                (out.remove_labels if removing else out.add_labels).append(lbl)
        elif (
            not removing
            and p.at("word")
            and nxt is not None
            and nxt2 is not None
            and nxt.kind == "op"
            and (
                (nxt.text == "+" and nxt2.kind == "op" and nxt2.text == "=")
                or (nxt.text == "=" and nxt2.text in ("{", "$"))
            )
        ):
            target()
            if p.next().text == "+":
                p.next()  # =
            else:
                out.replace = True
            if p.at("punct", "$"):
                m = p.parse_value(None)
                if not isinstance(m, dict):
                    raise CypherSyntaxError("SET += $param requires a map value")
                entries = list(m.items())
            else:
                p.expect("punct", "{")
                entries = []
                while True:
                    k = p.expect("word").text
                    p.expect("punct", ":")
                    entries.append((k, value()))
                    if not p.at("punct", ","):
                        break
                    p.next()
                p.expect("punct", "}")
            for k, val in entries:
                assign(k, val)
        else:
            ref = p.parse_prop_ref()
            if ref.var != var or ref.prop is None:
                raise CypherSyntaxError(
                    f"{clause} target must be {var!r}.<property>"
                )
            if removing:
                assign(ref.prop, None)
            else:
                p.expect("op", "=")
                assign(ref.prop, value())
        if not p.at("punct", ","):
            return out
        p.next()


def _set_expr(p: _Parser) -> Any:
    """A bare write's SET right-hand side: any non-aggregate expression
    (the counter idiom ``SET n.visits = n.visits + 1``, ``toUpper(n.name)``)."""
    val = p.parse_return_expr()
    if _contains_agg(val):
        raise CypherSyntaxError("aggregates are not allowed in SET values")
    return val


def _batch_set_list(
    p: _Parser, var: str, reserved: tuple[str, ...], uvar: str
) -> dict[str, Any]:
    """A SET list inside an UNWIND batch write: property items only, each
    value a literal or a field of the UNWIND row (it travels as a batch
    column)."""
    sl = _parse_set_list(p, var, reserved, lambda: p.parse_value(uvar))
    if sl.add_labels or sl.replace:
        raise CypherSyntaxError(
            "UNWIND batch writes set properties only; SET x:Label and "
            "SET x = {map} need a MATCH … SET statement"
        )
    return sl.values


def _parse_merge_arms(
    p: _Parser, parse_items, plain_set: bool
) -> tuple[dict[str, Any], dict[str, Any], dict[str, Any]]:
    """``ON CREATE SET …`` / ``ON MATCH SET …`` (and, with ``plain_set``,
    a plain ``SET …`` that applies on both arms) after a MERGE pattern, in
    any order, each at most once. ``parse_items()`` parses one SET list.
    Returns ``(both, on_create, on_match)``. A property assigned in the
    plain SET and again in an arm is rejected rather than silently
    picking a winner; the two arms may set the same property to
    different values."""
    both: dict[str, Any] | None = None
    arms: dict[str, dict[str, Any] | None] = {"CREATE": None, "MATCH": None}
    while True:
        if p._at_word_ci("ON"):
            p.next()
            arm_tok = p.next()
            if arm_tok.kind != "kw" or arm_tok.text not in arms:
                raise CypherSyntaxError(
                    f"expected CREATE or MATCH after ON, got {arm_tok.text!r}"
                )
            p.expect("kw", "SET")
            if arms[arm_tok.text] is not None:
                raise CypherSyntaxError(
                    f"duplicate ON {arm_tok.text} SET clause"
                )
            arms[arm_tok.text] = parse_items()
        elif plain_set and p.at("kw", "SET"):
            if both is not None:
                raise CypherSyntaxError("duplicate SET clause")
            p.next()
            both = parse_items()
        else:
            break
    both = both or {}
    for arm in arms.values():
        for prop in arm or ():
            if prop in both:
                raise CypherSyntaxError(
                    f"property {prop!r} assigned in both SET and an "
                    "ON CREATE/ON MATCH arm"
                )
    return both, arms["CREATE"] or {}, arms["MATCH"] or {}


@_typed_analysis_errors
def cypher_write(
    graph: PropertyGraph,
    query: str,
    params: dict[str, list[dict[str, Any]]] | None = None,
) -> PropertyGraph:
    """Execute one write statement against the graph; returns the new
    graph (the input is never modified).

    UNWIND batch forms — ``params[name]`` is the list of row dicts the
    reference's sink sends as one batch (`Neo4jOutputFormat`); values are
    literals or fields of the UNWIND row ``r``:

    - ``UNWIND $rows AS r CREATE (n:L {k: r.k, …})``
    - ``UNWIND $rows AS r MERGE (n:L {k: r.k}) [ON CREATE SET …]
      [ON MATCH SET …] [SET …]`` — upsert on one key property
      (:meth:`PropertyGraph.merge_nodes`)
    - ``UNWIND $rows AS r MATCH (p) WHERE p.k = r.k SET p.a = r.a, …``
      (:meth:`PropertyGraph.update_nodes`)
    - ``UNWIND $rows AS r MATCH (n:L {k: r.k}) [DETACH] DELETE n``
    - ``UNWIND $rows AS r MATCH (a:LA {k: r.x}), (b:LB {k: r.y})
      CREATE (a)-[:T {…}]->(b)`` and ``… MERGE (a)-[e:T {…}]->(b)
      [ON CREATE SET e.p = …] [ON MATCH SET e.q = …]``

    Their SET lists take property items (``x.p = v``, ``x += {…}``).

    Bare forms — no batch; the match set is the pattern and its WHERE,
    which takes every read-side WHERE form (pattern predicates, EXISTS,
    COUNT { }, comprehensions; :func:`_bare_match`):

    - ``MATCH (n[:L] [{k: v}]) [WHERE …] SET … | REMOVE …`` — ``n.p =
      <expr>``, ``n += {…}|$m``, ``n = {…}|$m`` (replace), ``n:L``;
      REMOVE takes ``n.p`` and ``n:L``
    - ``MATCH (n[:L]) [WHERE …] [DETACH] DELETE n``
    - ``MATCH (a[:L1])-[e:T]->(b[:L2]) [WHERE …] SET … | REMOVE … |
      DELETE e`` — the same SET items minus labels
    - ``FOREACH (x IN <src> | CREATE (:L {k: <expr(x)>, …}))`` over
      ``range(lo, hi[, step])``, a literal list or a ``$list``, with
      UNWIND's list rules: a list must be homogeneous (``[1, 'a']``
      raises), integers are 64-bit, int mixed with float promotes to
      float, and an empty list writes nothing

    Every SET list is parsed by :func:`_parse_set_list`: structural
    columns (and the key a write matches on) cannot be assigned, a
    property assigned twice is an error, and ``SET x.p = null`` removes
    the property, per Neo4j.
    """
    p = _Parser(_tokenize(query), params)
    if p.at("kw", "MATCH"):
        return _bare_write(graph, p)
    if p.at("word") and p.peek().text.upper() == "FOREACH":
        return _foreach_write(graph, p)
    p.expect("kw", "UNWIND")
    params = params or {}
    if p.at("punct", "$"):  # $rows — modern; {rows} legacy
        p.next()
        pname = p.expect("word").text
    else:
        p.expect("punct", "{")
        pname = p.expect("word").text
        p.expect("punct", "}")
    p.expect("kw", "AS")
    uvar = p.expect("word").text
    if pname not in params:
        raise CypherSyntaxError(f"missing parameter {pname!r}")
    rows = params[pname]

    if p.at("kw", "CREATE"):
        p.next()
        node = p.parse_node(unwind_var=uvar)
        if node.label is None:
            raise CypherSyntaxError("CREATE requires a label")
        p.expect_end()
        spark = graph.vertices.sparkSession
        data = [
            {k: _resolve(v, row) for k, v in node.props.items()} for row in rows
        ]
        if not data:
            return graph
        return graph.create_nodes(_local_rows(spark, data, "UNWIND"), node.label)

    if p.at("kw", "MERGE"):
        # UNWIND $rows AS r MERGE (n:L {k: r.k})
        #   [ON CREATE SET n.a = ..., ...] [ON MATCH SET n.b = ..., ...]
        #   [SET n.c = ..., ...]
        # — the idempotent upsert the sink generates
        # (unwind_merge_template). Plain SET applies on match AND create,
        # as in Cypher; ON CREATE SET fires only for rows that insert a new
        # vertex, ON MATCH SET only for rows that matched an existing one —
        # Neo4j's canonical conditional-upsert idiom. The two arms may set
        # the SAME property to DIFFERENT values (ON CREATE SET n.v = 'new'
        # ON MATCH SET n.v = 'seen'): each arm's values travel in their own
        # batch column (`__oc_*` / `__om_*`), mapped per-arm by
        # :meth:`PropertyGraph.merge_nodes`. Assigning one property twice
        # WITHIN reach of a single arm (e.g. in plain SET and again in
        # ON MATCH SET) is rejected loudly rather than silently picking a
        # winner.
        p.next()
        node = p.parse_node(unwind_var=uvar)
        if node.label is None:
            raise CypherSyntaxError("MERGE requires a label")
        if len(node.props) != 1:
            raise CypherSyntaxError(
                "MERGE pattern needs exactly one key property"
            )
        ((key, key_val),) = node.props.items()
        both, arm_create, arm_match = _parse_merge_arms(
            p,
            lambda: _batch_set_list(p, node.var, (*VERTEX_STRUCTURAL, key), uvar),
            plain_set=True,
        )
        p.expect_end()
        spark = graph.vertices.sparkSession
        data = [
            {
                key: _resolve(key_val, row),
                **{c: _resolve(v, row) for c, v in both.items()},
                **{f"__oc_{c}": _resolve(v, row) for c, v in arm_create.items()},
                **{f"__om_{c}": _resolve(v, row) for c, v in arm_match.items()},
            }
            for row in rows
        ]
        if not data:
            return graph
        batch = _local_rows(spark, data, "UNWIND")
        if not arm_create and not arm_match:
            return graph.merge_nodes(batch, node.label, key)
        create_map = {c: c for c in both} | {c: f"__oc_{c}" for c in arm_create}
        match_map = {c: c for c in both} | {c: f"__om_{c}" for c in arm_match}
        return graph.merge_nodes(
            batch,
            node.label,
            key,
            on_create=create_map,
            on_match=match_map,
        )

    p.expect("kw", "MATCH")
    target = p.parse_node(unwind_var=uvar)

    if p.at("punct", ","):
        # UNWIND $rows AS r MATCH (a:LA {k: r.x}), (b:LB {k: r.y})
        #   MERGE|CREATE (a)-[:T]->(b) — the relationship batch-write form
        # (endpoints matched by key, edge inserted; MERGE is idempotent on
        # the (src, dst, rel_type) pair, CREATE inserts unconditionally).
        p.next()
        target_b = p.parse_node(unwind_var=uvar)
        if p.at("kw", "MERGE"):
            idempotent = True
        elif p.at("kw", "CREATE"):
            idempotent = False
        else:
            raise CypherSyntaxError(
                "two-node MATCH must be followed by MERGE or CREATE"
            )
        p.next()
        pat = p.parse_pattern(unwind_var=uvar)
        if not isinstance(pat, EdgePat) or pat.hops is not None:
            raise CypherSyntaxError(
                "relationship write needs a single-hop edge pattern"
            )
        if pat.undirected:
            raise CypherSyntaxError(
                "relationship write requires a direction (-[:T]-> or <-[:T]-)"
            )
        if pat.rel_type is None:
            raise CypherSyntaxError("relationship write requires a type")
        if isinstance(pat.rel_type, tuple):
            raise CypherSyntaxError(
                "a relationship write needs exactly ONE type; "
                "[:A|B] alternation is read-only syntax"
            )
        # the parser normalizes (a)<-[:T]-(b) to src=b, dst=a, so the
        # stored direction always follows pat.src -> pat.dst; the two
        # endpoints just have to be the two MATCHed variables
        if (pat.src.var, pat.dst.var) == (target.var, target_b.var):
            src_node, dst_node = target, target_b
        elif (pat.src.var, pat.dst.var) == (target_b.var, target.var):
            src_node, dst_node = target_b, target
        else:
            raise CypherSyntaxError(
                "edge endpoints must be the two MATCHed variables"
            )
        for node in (target, target_b):
            if node.label is None or len(node.props) != 1:
                raise CypherSyntaxError(
                    "each endpoint needs a label and exactly one key property"
                )
        # MERGE (a)-[e:T]->(b) ON CREATE SET e.p = … ON MATCH SET e.q = …
        # — the conditional-upsert arms on the EDGE (the twin of the node
        # MERGE arms, X183): ON CREATE fires only for rows that insert the
        # edge, ON MATCH only for rows that matched an existing one. The
        # same property may take different values per arm (each arm's
        # values travel in their own batch column, `__oc_*` / `__om_*`).
        if p._at_word_ci("ON"):
            if not idempotent:
                raise CypherSyntaxError(
                    "ON CREATE/ON MATCH arms require MERGE"
                )
            if pat.var is None:
                raise CypherSyntaxError(
                    "ON CREATE/ON MATCH SET needs an edge variable: "
                    "MERGE (a)-[e:T]->(b) ON CREATE SET e.p = …"
                )
        _, arm_create, arm_match = _parse_merge_arms(
            p,
            lambda: _batch_set_list(
                p, pat.var, (*EDGE_STRUCTURAL, *pat.props), uvar
            ),
            plain_set=False,
        )
        p.expect_end()
        ((akey, aval),) = src_node.props.items()
        ((bkey, bval),) = dst_node.props.items()
        for ep in pat.props:
            if ep in ("__a", "__b", *EDGE_STRUCTURAL):
                raise CypherSyntaxError(
                    f"reserved edge property name {ep!r}"
                )
        data = [
            {
                "__a": _resolve(aval, row),
                "__b": _resolve(bval, row),
                # edge property map — values per row (r.w) or literals;
                # for MERGE these join the match key (Cypher semantics),
                # for CREATE they are simply written
                **{ep: _resolve(v, row) for ep, v in pat.props.items()},
                **{
                    f"__oc_{c}": _resolve(v, row)
                    for c, v in arm_create.items()
                },
                **{
                    f"__om_{c}": _resolve(v, row)
                    for c, v in arm_match.items()
                },
            }
            for row in rows
        ]
        if not data:
            return graph
        spark = graph.vertices.sparkSession
        eps = graph._resolve_endpoints(
            _local_rows(spark, data, "UNWIND"),
            src_node.label, akey, "__a",
            dst_node.label, bkey, "__b",
        )
        if idempotent:
            return graph.merge_relationships(
                eps,
                pat.rel_type,
                on_create={c: f"__oc_{c}" for c in arm_create} or None,
                on_match={c: f"__om_{c}" for c in arm_match} or None,
            )
        return graph.create_relationships(eps, pat.rel_type)

    if p.at("kw", "DETACH") or p.at("kw", "DELETE"):
        # UNWIND $rows AS r MATCH (n:L {k: r.k}) [DETACH] DELETE n —
        # key-addressed batch delete; plain DELETE keeps Neo4j's contract
        # (refuses when a matched vertex still has relationships).
        detach = False
        if p.at("kw", "DETACH"):
            detach = True
            p.next()
        p.expect("kw", "DELETE")
        var = p.expect("word").text
        if var != target.var:
            raise CypherSyntaxError(f"DELETE target must be {target.var!r}")
        if target.label is None or len(target.props) != 1:
            raise CypherSyntaxError(
                "DELETE MATCH needs a label and exactly one key property"
            )
        p.expect_end()
        ((key, val),) = target.props.items()
        data = [{"__k": _resolve(val, row)} for row in rows]
        if not data:
            return graph
        spark = graph.vertices.sparkSession
        batch = _local_rows(spark, data, "UNWIND")
        ids = (
            graph.vertices.filter(label_cond(graph.vertices, target.label))
            .join(batch, graph.vertices[key] == batch["__k"], "left_semi")
            .select("id")
        )
        return graph.delete_nodes(ids, detach=detach)

    p.expect("kw", "WHERE")
    disj = p.parse_where(unwind_var=uvar)
    p.expect("kw", "SET")

    # key condition: p.key = u.key (exactly one, equality, across all ORs)
    if len(disj) != 1 or len(disj[0]) != 1:
        raise CypherSyntaxError("UNWIND..MATCH..SET supports a single key equality")
    cond = disj[0][0]
    if (
        cond.op != "="
        or cond.negated
        or cond.left.var != target.var
        or not isinstance(cond.right, tuple)
    ):
        raise CypherSyntaxError("WHERE must be <node>.<key> = <unwind>.<key>")
    key = cond.left.prop

    updates = _batch_set_list(p, target.var, (*VERTEX_STRUCTURAL, key), uvar)
    p.expect_end()
    spark = graph.vertices.sparkSession
    data = [
        {key: _resolve(("__param__", cond.right[1]), row),
         **{c: _resolve(v, row) for c, v in updates.items()}}
        for row in rows
    ]
    if not data:
        return graph
    if target.label is not None:
        raise CypherSyntaxError("labeled MATCH in update not supported (B8 is unlabeled)")
    return graph.update_nodes(_local_rows(spark, data, "UNWIND"), key)


def _foreach_write(graph: PropertyGraph, p: _Parser) -> PropertyGraph:
    """``FOREACH (x IN range(lo, hi[, step]) | CREATE (:L {k: <expr(x)>,
    ...}))`` (and literal-list / ``$param``-list sources) — Neo4j's batch
    row-generation idiom. The source is UNWIND's (:func:`_list_source`):
    ``range`` compiles to ``spark.range``, so the batch is a DISTRIBUTED
    lazily-generated relation and property expressions are JVM column
    arithmetic over it (``FOREACH (i IN range(1, 10^9) | CREATE ...)``
    inserts a billion vertices without a driver-side list), and a list
    follows UNWIND's type rules. An empty list is a no-op. Only the
    CREATE body is supported — FOREACH's SET/MERGE/DELETE bodies raise
    loudly (use the UNWIND..MATCH forms)."""
    p.next()  # FOREACH
    p.expect("punct", "(")
    var = p.expect("word").text
    if not p._at_word_ci("IN"):
        raise CypherSyntaxError("expected IN in FOREACH")
    p.next()
    src, col, _ = _list_source(p, graph.vertices.sparkSession, "FOREACH")
    if src is not None:
        src = src.select(col.alias("__x"))
    p.expect("punct", "|")
    if not p.at("kw", "CREATE"):
        raise CypherSyntaxError(
            "only CREATE is supported inside FOREACH; use UNWIND..MATCH "
            "forms for SET/MERGE/DELETE"
        )
    p.next()
    # node pattern with EXPRESSION-valued properties over the loop var:
    # ( [v] :Label { k: <expr>, ... } )
    p.expect("punct", "(")
    if p.at("word") and p.peek(1) is not None and p.peek(1).text == ":":
        p.next()  # optional node variable, unused
    p.expect("punct", ":")
    label = p.expect("word").text
    props: list[tuple[str, Any]] = []
    if p.at("punct", "{"):
        p.next()
        while True:
            key = p.expect("word").text
            p.expect("punct", ":")
            expr = p.parse_return_expr(allow_bare=True)
            if _contains_agg(expr):
                raise CypherSyntaxError("aggregates not allowed in FOREACH")
            props.append((key, expr))
            if p.at("punct", ","):
                p.next()
                continue
            break
        p.expect("punct", "}")
    p.expect("punct", ")")
    p.expect("punct", ")")
    p.expect_end()
    if not props:
        raise CypherSyntaxError("FOREACH CREATE needs at least one property")
    if src is None:
        return graph

    def colmap(ref) -> Column:
        name = ref.name if isinstance(ref, BareRef) else getattr(ref, "var", None)
        if name == var and not (isinstance(ref, PropRef) and ref.prop is not None):
            return F.col("__x")
        raise CypherSyntaxError(
            f"only the FOREACH variable {var!r} is in scope; got {ref!r}"
        )

    batch = src.select(
        *[_expr_column(e, colmap, src).alias(k) for k, e in props]
    )
    return graph.create_nodes(batch, label)


def _set_columns(
    sl: SetList, table: DataFrame, colmap, structural: tuple[str, ...]
) -> dict[str, Column | None]:
    """A bare SET list's values compiled to Columns over ``table``, so
    every right-hand side reads the row's PRE-update values (Cypher
    evaluates all SET right-hand sides before any assignment applies).
    A replacing ``SET x = {map}`` also removes every unlisted property —
    every column outside ``structural``."""
    cols: dict[str, Column | None] = {}
    if sl.replace:
        cols = {c: None for c in table.columns if c not in structural}
    for prop, val in sl.values.items():
        cols[prop] = None if val is None else _expr_column(val, colmap, table)
    return cols


def _label_columns(
    v: DataFrame, add: list[str], remove: list[str]
) -> dict[str, Column]:
    """``SET n:L`` / ``REMOVE n:L`` as assignments to the two label
    columns (multi-label model, SURVEY §1.1). SET ADDS the label, as in
    Neo4j: the primary ``label`` is untouched and each label the vertex
    does not already carry (primary or extras) is appended to
    ``extra_labels``. REMOVE drops the label wherever it appears — nulls
    a primary that names it, removes it from the extras — and labels(n)
    then reads whatever remains ([] when nothing does). Both read the
    PRE-update state, like SET values."""
    empty = F.array().cast("array<string>")
    extras = (
        F.col(EXTRA_LABELS) if EXTRA_LABELS in v.columns
        else F.lit(None).cast("array<string>")
    )
    cols: dict[str, Column] = {}
    if add:
        additions = F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.coalesce(
                            (F.col("label") == F.lit(lbl))
                            | F.array_contains(extras, lbl),
                            F.lit(False),
                        ),
                        F.lit(lbl),
                    )
                    for lbl in add
                ]
            )
        )
        extras = F.concat(F.coalesce(extras, empty), additions)
    if remove:
        cols["label"] = F.when(
            F.col("label").isin(*remove), F.lit(None).cast("string")
        ).otherwise(F.col("label"))
        extras = F.coalesce(extras, empty)
        for lbl in remove:
            extras = F.array_remove(extras, lbl)
    cols[EXTRA_LABELS] = extras
    return cols


def _bare_match(graph: PropertyGraph, pat: "NodePat | EdgePat", disj):
    """The rows a bare write changes: ``(frame, matched, own)``, where
    ``frame`` is the written table (``graph.vertices`` or
    ``graph.edges``) or a left join over it, ``matched`` is the Column
    that marks the pattern's rows (null reads as no match, as in
    MATCH..WHERE) and ``own`` is the colmap of the target's own columns,
    which SET values compile through. The WHERE is a read-side MATCH
    WHERE; two plans:

    - PLAIN (the WHERE reads only the target's own columns — no pattern
      predicate, EXISTS, COUNT { } or comprehension — and an edge pattern
      has no endpoint label and three distinct variables): ``matched``
      is the label or type condition AND the WHERE compiled through
      ``own``, so the write is ONE conditional projection over the table
      (no join, no shuffle).
    - otherwise the rows come from the read scope (:func:`_match_chain`
      + :func:`_apply_scope_where`), and the distinct target ids are
      marked back onto the table by ONE left equi-join on id — the same
      shuffle the equivalent read costs."""
    edge = isinstance(pat, EdgePat)
    _assign_anon_vars([pat], _pattern_vars([pat]))
    var = pat.var
    table = graph.edges if edge else graph.vertices
    own = _scope_colmap(graph, {var: ("edge" if edge else "node", "")})
    refs: set[str] = set()
    plain = True
    if disj is not None:
        _disj_vars(disj, refs)
        subquery = (PatternCond, CountPattern, PatternComp)
        plain = not any(_contains(c, subquery) for conj in disj for c in conj)
    if edge:
        plain = plain and (
            pat.src.label is None
            and pat.dst.label is None
            and refs <= {var}
            and len({var, pat.src.var, pat.dst.var}) == 3
        )
    if plain:
        tag = pat.rel_type if edge else pat.label
        kind = None
        if tag is not None:
            kind = rel_type_cond(tag) if edge else label_cond(table, tag)
        matched = F.lit(True) if kind is None else kind
        if disj is not None:
            where = _where_to_column(disj, own, set(table.columns), table)
            matched = where if kind is None else kind & where
        return table, matched, own
    df, colmap = _match_chain(
        graph, [pat], [[pat]], [] if disj is None else [disj]
    )
    df = _apply_scope_where(df, colmap, disj)
    ids = df.select(colmap(PropRef(var, None)).alias("__mid")).distinct()
    frame = table.join(ids, F.col("id") == F.col("__mid"), "left")
    return frame, F.col("__mid").isNotNull(), own


def _bare_write(graph: PropertyGraph, p: _Parser) -> PropertyGraph:
    """Predicate-addressed interactive writes (no UNWIND batch):

    - ``MATCH (n[:L]) [WHERE ...] [DETACH] DELETE n`` — the matched ids
      fed to :meth:`PropertyGraph.delete_nodes`, so plain DELETE keeps
      Neo4j's still-has-relationships refusal and DETACH cascades to
      incident edges.
    - ``MATCH (n[:L]) [WHERE ...] SET ... | REMOVE ...`` (the items of
      :func:`_parse_set_list`) — one conditional projection
      (:func:`assign_where`) over the vertex frame. ``SET n.p = null``
      removes the property, per Neo4j; ``REMOVE n.p`` is sugar for it.

    The WHERE takes every read-side form; :func:`_bare_match` finds the
    rows.
    """
    p.expect("kw", "MATCH")
    target = p.parse_pattern()
    if isinstance(target, EdgePat):
        return _bare_edge_write(graph, p, target)
    if target.props and target.var is None:
        raise CypherSyntaxError(
            "a bare-write pattern with a property map needs a variable "
            "(the SET/DELETE clause must reference it)"
        )
    disj = None
    if p.at("kw", "WHERE"):
        p.next()
        disj = p.parse_where()
    # inline map — same desugar contract as reads: (n:L {k: v}) SET ...
    # is (n:L) WHERE n.k = v SET ...
    disj = _and_into(disj, _desugar_inline_props([target], {target.var}))

    if p.at("kw", "SET") or p.at("kw", "REMOVE"):
        removing = p.next().text == "REMOVE"
        sl = _parse_set_list(
            p, target.var, VERTEX_STRUCTURAL, lambda: _set_expr(p), removing
        )
        p.expect_end()
        v = graph.vertices
        frame, matched, own = _bare_match(graph, target, disj)
        cols = _set_columns(sl, v, own, VERTEX_STRUCTURAL)
        if sl.add_labels or sl.remove_labels:
            cols.update(_label_columns(v, sl.add_labels, sl.remove_labels))
        return PropertyGraph(
            assign_where(frame, matched, cols, v.columns), graph.edges
        )

    detach = False
    if p.at("kw", "DETACH"):
        detach = True
        p.next()
    p.expect("kw", "DELETE")
    var = p.expect("word").text
    if var != target.var:
        raise CypherSyntaxError(f"DELETE target must be {target.var!r}")
    p.expect_end()
    frame, matched, _ = _bare_match(graph, target, disj)
    return graph.delete_nodes(frame.filter(matched).select("id"), detach=detach)


def _bare_edge_write(graph: PropertyGraph, p: _Parser, pat: EdgePat) -> PropertyGraph:
    """Relationship-property writes through the front end:

    - ``MATCH (a[:L1])-[e:T]->(b[:L2]) [WHERE …] SET e.p = <expr>, …``
    - ``SET e += {map}`` (merge) / ``SET e = {map}`` (replace: unlisted
      user properties null out, per Neo4j)
    - ``… REMOVE e.p, …`` — sugar for SET-null
    - ``… DELETE e`` — one anti-join on edge id (:meth:`delete_edges`)

    The rows come from :func:`_bare_match`, as for the node forms: one
    conditional projection over the edge frame when the WHERE reads the
    edge alone, else the read scope's edge ids marked back by one join.
    SET right-hand sides evaluate against the edge's PRE-update
    properties (``SET e.w = e.w + 1``); endpoint properties in SET
    values raise loudly (match them in WHERE, or carry values via an
    UNWIND batch). Relationships have exactly ONE type, so ``SET
    e:Label`` is rejected (Neo4j errors there too).
    """
    if pat.hops is not None:
        raise CypherSyntaxError(
            "variable-length patterns cannot be written to; bind a "
            "single-hop edge variable"
        )
    if pat.undirected:
        raise CypherSyntaxError(
            "edge writes need a directed pattern (-[e:T]-> or <-[e:T]-)"
        )
    evar = pat.var
    if evar is None:
        raise CypherSyntaxError("the edge write pattern needs an edge variable")
    disj = None
    if p.at("kw", "WHERE"):
        p.next()
        disj = p.parse_where()
    disj = _and_into(disj, _desugar_inline_props([pat], _pattern_vars([pat])))

    if p.at("kw", "DELETE") or p.at("kw", "DETACH"):
        if p.at("kw", "DETACH"):
            raise CypherSyntaxError(
                "DETACH applies to nodes; a relationship DELETE is plain "
                "DELETE e"
            )
        p.next()
        var = p.expect("word").text
        if var != evar:
            raise CypherSyntaxError(f"DELETE target must be {evar!r}")
        p.expect_end()
        frame, matched, _ = _bare_match(graph, pat, disj)
        return graph.delete_edges(frame.filter(matched).select("id"))
    if not (p.at("kw", "SET") or p.at("kw", "REMOVE")):
        raise CypherSyntaxError(
            "expected SET, REMOVE or DELETE after the edge pattern"
        )
    removing = p.next().text == "REMOVE"
    sl = _parse_set_list(p, evar, EDGE_STRUCTURAL, lambda: _set_expr(p), removing)
    p.expect_end()
    # SET values read the edge's own pre-update state only
    for val in sl.values.values():
        vrefs: set[str] = set()
        _expr_vars(val, vrefs)
        if vrefs - {evar}:
            raise CypherSyntaxError(
                "SET values may reference the edge's own properties "
                f"only ({evar!r}); endpoint values need an UNWIND batch"
            )
    e = graph.edges
    frame, matched, own = _bare_match(graph, pat, disj)
    cols = _set_columns(sl, e, own, EDGE_STRUCTURAL)
    return PropertyGraph(graph.vertices, assign_where(frame, matched, cols, e.columns))


@_typed_analysis_errors
def cypher_create_graph(spark, query: str) -> PropertyGraph:
    """Execute a fixture-construction ``CREATE (v:L {..}), ..,
    (v1)-[:T {..}]->(v2)`` statement into a fresh PropertyGraph
    (B9 — `Neo4jFormatTest.java:14-19`)."""
    p = _Parser(_tokenize(query))
    p.expect("kw", "CREATE")
    pats = p.parse_pattern_seq()
    if p.peek() is not None:
        raise CypherSyntaxError(f"unexpected token {p.peek().text!r}")

    # Cypher CREATE declaration rules: a named node is declared at its
    # FIRST occurrence (possibly inline in an edge or chain); later
    # occurrences are references and must not re-declare a label or
    # property map. Anonymous nodes are each a fresh node — identity is
    # per pattern object, so `CREATE (:A {x:1}), (:B {y:2})` creates two
    # nodes (never id-colliding) and chain continuations reuse theirs.
    nodes: list[NodePat] = []
    index: dict[int, int] = {}  # id(NodePat object) -> node index
    byvar: dict[str, NodePat] = {}

    def declare(nd: NodePat) -> NodePat:
        if nd.var is not None:
            prev = byvar.get(nd.var)
            if prev is not None and prev is not nd:
                if nd.props or nd.label:
                    raise CypherSyntaxError(
                        f"variable {nd.var!r} already declared; a "
                        "reference cannot carry a label or property map"
                    )
                return prev
            byvar[nd.var] = nd
        if id(nd) not in index:
            index[id(nd)] = len(nodes)
            nodes.append(nd)
        return nd

    edges: list[tuple[NodePat, NodePat, EdgePat]] = []
    for pat in pats:
        if isinstance(pat, NodePat):
            declare(pat)
            continue
        if pat.undirected:
            raise CypherSyntaxError(
                "CREATE requires a direction (-[:T]-> or <-[:T]-)"
            )
        if pat.hops is not None:
            raise CypherSyntaxError(
                "CREATE cannot use a variable-length pattern"
            )
        edges.append((declare(pat.src), declare(pat.dst), pat))

    vcols = sorted({k for n in nodes for k in n.props})
    vrows = [
        {"id": i, "label": n.label or "Node",
         **{c: n.props.get(c) for c in vcols}}
        for i, n in enumerate(nodes)
    ]
    ecols = sorted({k for _, _, e in edges for k in e.props})
    for _, _, e in edges:
        if isinstance(e.rel_type, tuple):
            raise CypherSyntaxError(
                "CREATE needs exactly ONE relationship type; "
                "[:A|B] alternation is read-only syntax"
            )
    erows = [
        {"id": i, "src": index[id(s)], "dst": index[id(d)],
         "rel_type": e.rel_type or "REL", **{c: e.props.get(c) for c in ecols}}
        for i, (s, d, e) in enumerate(edges)
    ]
    v = _local_rows(spark, vrows, "CREATE")
    e = (
        _local_rows(spark, erows, "CREATE")
        if erows
        else local_frame(spark, [], "id long, src long, dst long, rel_type string")
    )
    return PropertyGraph(v, e)
