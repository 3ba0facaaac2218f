"""SPARQL 1.1 text front-end over the relational KG algebra.

The reference library (jsonld-java) stops at RDF dataset production —
it has no query language. This engine's query surface (``kg.bgp_match``
/ ``construct`` / ``ask`` / ``describe`` and the path algebra) covers
the SPARQL algebra programmatically; this module adds the missing
user-facing layer: parse SPARQL *query text* and compile it onto those
operators, so a user can run the same query string here that they
would hand to any SPARQL endpoint over the reference's output.

Both front ends build the same node, ``kg.Group``. The parser turns
every group graph pattern (a WHERE clause, an OPTIONAL / [NOT] EXISTS
/ MINUS body, a UNION branch, a GRAPH body or CONSTRUCT template) into
one through a single method, ``_Parser._group``; its context table
``_GROUP_CONTEXTS`` says which members each context admits and raises
every refusal. ``_solutions`` turns a WHERE group into its solutions,
whatever the query form: SELECT (and each subquery), ASK, CONSTRUCT
and DESCRIBE all read from it. It compiles the group's subqueries
bottom-up into solution joins, then hands the group to ``kg._compile``,
the one evaluator, which ``bgp_match`` / ``bgp_union`` use too. Each
form then has one path: SELECT runs its solution modifiers once each
in SPARQL §18.2.4–18.2.5 order (``_compile_select``), ASK probes the
solutions under ``limit(1)``, CONSTRUCT instantiates its template once
over them (``kg._template_rows``), and DESCRIBE hands its IRIs, or
the solutions' bindings, to ``kg.describe_nodes``. Property paths have
one grammar, ``kg._PathGrammar``, which reads this parser's tokens as
it reads ``kg_path`` strings.

Supported subset:

* ``PREFIX`` / ``BASE`` prologue, ``a`` == ``rdf:type``
* ``SELECT [DISTINCT] ?v ... | * | (expr AS ?alias)`` with
  ``GROUP BY`` / ``HAVING`` / ``ORDER BY`` (vars, ``ASC/DESC(expr)``,
  bracketted or builtin-call expression conditions) / ``LIMIT`` /
  ``OFFSET``
  and the SPARQL aggregates ``COUNT / SUM / AVG / MIN / MAX /
  SAMPLE / GROUP_CONCAT`` (GROUP_CONCAT is made deterministic by
  sorting the group's values — SPARQL leaves the order undefined);
  aggregates may appear directly inside HAVING constraints (hidden
  aggregate columns, dropped after the filter); HAVING and a trailing
  VALUES read the GROUP BY keys and the aggregates (under their
  SELECT aliases), not the other SELECT expressions, which SPARQL
  binds after them
* ``ASK`` / ``CONSTRUCT { template } WHERE`` / ``DESCRIBE <node>``
* triple patterns with ``;`` / ``,`` predicate-object lists,
  property-path predicates (``^ / | + * ?`` and ``!`` negated sets
  — kg_path's grammar, over PNAMEs too), ``GRAPH <g>|?g { ... }``
* one grammar for every group (the ``_GROUP_CONTEXTS`` table): a
  WHERE group and every OPTIONAL / [NOT] EXISTS / MINUS body, at any
  depth, hold triple patterns, ``GRAPH``, ``FILTER``, ``OPTIONAL``,
  ``FILTER [NOT] EXISTS``, ``MINUS``, ``VALUES`` (both forms, ``UNDEF``
  wildcards; also the trailing ValuesClause after solution
  modifiers), ``BIND (expr AS ?v)``, subqueries and ``{ A } UNION
  { B }`` blocks. A body needs a required part (patterns, a subquery
  or its one UNION) and takes a UNION only beside FILTERs and BINDs;
  a UNION branch holds triple patterns, GRAPH and plain FILTERs
* ``OPTIONAL`` — the body is evaluated as a unit and left-joined
  (SPARQL LeftJoin): a body FILTER over group variables pre-filters
  the group, one referencing OUTER variables is the join's residual
  condition (over nullable shared variables it raises), and a
  rejected body row leaves the optional variables null. A shared join
  variable the body may leave unbound (bound only by an inner
  OPTIONAL or a BIND, or not by every UNION branch) raises typed; a
  subquery-bound one is accepted (the attach-an-aggregate idiom). A
  nested member referencing an OUTER-only variable raises, as
  correlation would need a conditional join
* ``FILTER expr`` compiles to a Spark SQL boolean (the same string
  ``bgp_match``'s ``filters`` take). ``[NOT] EXISTS { ... }`` may be
  EMBEDDED in the expression (``FILTER(?a = 'x' || EXISTS {...})``,
  ``!EXISTS`` too): each occurrence is a marker left join against the
  body's distinct shared-key set, while a standalone ``FILTER [NOT]
  EXISTS`` is a semi/anti join. Over a UNION body NOT EXISTS and
  MINUS distribute (per-branch anti joins — exact); EXISTS is an OR
  of per-branch marker joins. [NOT] EXISTS / MINUS bodies see the
  outer solutions by substitution, so a shared variable the body
  binds only through an inner OPTIONAL, a non-rename BIND, an
  UNDEF-able VALUES or a subquery raises typed (the equality join
  would diverge)
* ``UNION``: a WHERE clause that is entirely a UNION; ``CONSTRUCT``
  over one instantiates the template over the union's solutions, so
  a template triple a solution leaves unbound is skipped for it, a
  template no branch binds completely raises, and so does a template
  variable no branch binds. A UNION beside other members is
  Join(Union(branches), rest): a variable not bound by every branch
  is nullable, and using one as the join key, or in a term-metadata
  builtin, raises. A branch FILTER applies to the branch's solutions
  before the null-padding union and may reference only the branch's
  variables (an outer one is out of scope per SPARQL: typed error);
  term-metadata builtins there work in a whole-group UNION only
* SPARQL 1.1 subqueries ``{ SELECT ... }`` in a WHERE group or a body
  — compiled bottom-up (§18.2.2) and joined on the shared variables;
  a scalar aggregate subquery (no GROUP BY — the ``MAX``-argmax
  idiom) joins disjoint via broadcast, and a possibly-unbound shared
  variable raises rather than mis-joins
* ``FROM <g>`` / ``FROM NAMED <g>`` dataset clauses (§13.2) in all
  four query forms — one pushed graph-column ``isin`` filter.
  Supported scopes: FROM alone (patterns match the merged default
  graph; GRAPH clauses refuse typed) and FROM NAMED alone (every
  pattern must sit inside GRAPH); FROM + FROM NAMED together
  refuses (two scan scopes); subqueries reject dataset clauses per
  the SubSelect grammar
* ``REGEX`` / ``REPLACE`` flags ``i`` / ``s`` / ``m`` (Java inline
  ``(?ism)``) and ``q`` (literal pattern → substring containment /
  plain replace; ``iq`` folds case); ``x`` refuses — Java's ``(?x)``
  treats ``#`` as a comment, silently diverging from fn:matches;
  ``SUM/AVG(DISTINCT expr)`` aggregate the distinct value multiset
* blank nodes in patterns: ``_:label``, ``[]`` and
  ``[ p1 o1 ; p2 o2 ]`` property lists (nesting allowed) compile to
  non-distinguished variables + desugared patterns (``SELECT *``
  does not project them); template blank nodes raise
* term-test builtins LANG / DATATYPE / isIRI / isLiteral / isBlank /
  LANGMATCHES / sameTerm over the quad frame's kind/lang/datatype
  columns (the evaluator's ``meta_vars``; the variable may be bound
  by a required pattern, an OPTIONAL group or a whole-group UNION),
  plus STRBEFORE / STRAFTER / ENCODE_FOR_URI / MD5 / SHA1 /
  SHA256/384/512 and IRI()/URI() (identity on the stored lexical IRI — enables skolem templates)
* dateTime accessors YEAR / MONTH / DAY / HOURS / MINUTES / SECONDS
  (§17.4.5) over the stored lexical form via ``try_cast`` — a
  malformed lexical value is a SPARQL type error → NULL, never a
  task-failing ANSI cast error; SECONDS returns whole seconds

Deviations / limits (all raise a clear error, never mis-execute):
SERVICE, nested GRAPH, subqueries inside expression-embedded EXISTS,
a variable referenced in SELECT / FILTER / BIND but never bound in
its scope (SPARQL evaluates it as a per-solution type error, usually
yielding an empty result; this engine refuses typed rather than
silently returning nothing),
nondeterministic builtins (NOW / UUID / STRUUID / RAND / BNODE — a
retried Spark task would re-evaluate them, breaking reproducibility),
TZ / TIMEZONE (lexical forms carry no normalized offset), STRLANG /
STRDT, and FROM combined with FROM NAMED or GRAPH
are not supported. ASK probes the group's solutions under
``limit(1)``; an all-constant pattern is an existence gate there, so
ASK answers an all-constant group, which the other forms refuse (they
need a variable).
Expressions are typed: SPARQL compares typed values, while the triples
frame stores lexical forms. Each expression node has one kind, inferred
bottom-up: number, plain string, language-tagged string, IRI, boolean,
aggregate alias (of COUNT / SUM / AVG) or unknown (a variable, a typed
literal). Every comparison, IN, arithmetic and unary-minus operator
compiles through one typed operator, ``_Parser._typed``: an unknown
operand that meets a number or a boolean is ``try_cast`` to it (and
arithmetic, over doubles, try_casts every unknown operand); two
different definite kinds are a type error, NULL, so FILTER and HAVING
drop the solution and BIND, SELECT and ORDER BY see an unbound value,
except that an IRI is ``=``-false and ``!=``-true against any literal
(§17.4.1.7). IN is the OR of the ``=`` of each item, NOT IN the AND of
the ``!=``; division by zero is a type error too. Two unknown operands
(var-to-var) compare lexicographically, and ``xsd:integer(?v)``-style
constructors cast explicitly.
GROUP BY and projected DISTINCT likewise group/dedup on the LEXICAL
value: with ``meta_vars`` the solution set keeps literals differing
only in language/datatype as distinct TERMS, but a subsequent
``GROUP BY ?o`` merges them into one lexical group (project
``(LANG(?o) AS ?l)`` and group by both to group by term).
Plain SELECT defaults to set semantics (the engine-wide documented
deviation; pass ``distinct_solutions=False`` for bag semantics on
pre-deduplicated warehouse tables). An explicit DISTINCT deduplicates
under bag semantics too, and it is the only modifier that deduplicates
a grouped SELECT's projected rows.

Reference for the algebra mapping: SPARQL 1.1 Query, §18 (algebra),
§8 (negation), §10.2 (VALUES). Reference parity anchor: the triples
these queries run over are produced per jsonld-java's
``core/RDFDataset.java`` quad model (see operators/materialize.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, functions as F

from ..session import reuse
from .kg import _PATH_OPS, META_SUFFIXES, RDF_TYPE, Group, _PathGrammar, \
    _compile, _expr_identifiers, _pattern_tuple_vars, \
    _refuse_constant, _template_rows, _values_join, describe_nodes

_META_SUFFIXES = tuple(META_SUFFIXES)

__all__ = ["sparql_query", "SparqlSyntaxError", "SparqlUnsupportedError"]


def _join_values_tables(a: list[dict], b: list[dict]) -> list[dict]:
    """SPARQL joins multiple VALUES blocks in one group (each is an
    inline solution table): compatible rows (equal on shared vars,
    UNDEF = wildcard that takes the other side's binding) merge;
    incompatible pairs drop. Literal tables are tiny — pure Python."""
    if not a:
        return b
    if not b:
        return a
    out: list[dict] = []
    for r1 in a:
        for r2 in b:
            ok = all(r1[v] is None or r2[v] is None or r1[v] == r2[v]
                     for v in set(r1) & set(r2))
            if ok:
                merged = dict(r1)
                for v, val in r2.items():
                    if merged.get(v) is None:
                        merged[v] = val
                out.append(merged)
    return out


class SparqlSyntaxError(ValueError):
    """The query text does not parse under the SPARQL grammar."""


class SparqlUnsupportedError(NotImplementedError):
    """Legal SPARQL outside this front-end's compiled subset."""


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z_0-9]*)
  | (?P<STRING3>\"\"\"(?:[^"\\]|\\.|\"(?!\"\"))*\"\"\"
      |'''(?:[^'\\]|\\.|'(?!''))*''')
  | (?P<STRING>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<NUMBER>(?:\d+\.\d*[eE][+-]?\d+|\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<PNAME>[A-Za-z_][A-Za-z_0-9.-]*?:
      (?:[A-Za-z_0-9](?:[A-Za-z_0-9.-]*[A-Za-z_0-9-])?)?
      |:(?:[A-Za-z_0-9](?:[A-Za-z_0-9.-]*[A-Za-z_0-9-])?)?)
  | (?P<NAME>[A-Za-z_][A-Za-z_0-9]*)
  | (?P<OP>\^\^|&&|\|\||!=|<=|>=|[{}()\[\];.,*/|^+?!=<>-])
""", re.VERBOSE)

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

# blank-node labels in patterns compile to variables with this prefix:
# non-distinguished per SPARQL — joined where repeated, never projected
# by SELECT *
_BNODE_VAR_PREFIX = "_bn_"

_KEYWORDS = {
    "select", "distinct", "reduced", "where", "optional", "filter",
    "union", "minus", "exists", "not", "values", "bind", "as", "graph",
    "construct", "ask", "describe", "prefix", "base", "group", "by",
    "having", "order", "asc", "desc", "limit", "offset", "undef", "in",
    "a", "true", "false", "from", "named",
}


@dataclass
class _Tok:
    kind: str          # IRIREF VAR STRING LANGTAG NUMBER PNAME NAME OP KW EOF
    value: str
    pos: int


def _tokenize(text: str) -> list[_Tok]:
    toks: list[_Tok] = []
    i = 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if m is None:
            raise SparqlSyntaxError(
                f"unexpected character {text[i]!r} at offset {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        val = m.group()
        if kind == "STRING3":
            kind = "STRING"
        if kind == "NAME" and val.lower() in _KEYWORDS:
            toks.append(_Tok("KW", val.lower(), m.start()))
        else:
            toks.append(_Tok(kind, val, m.start()))
    toks.append(_Tok("EOF", "", len(text)))
    return toks


def _unquote(s: str) -> str:
    if s.startswith('"""') or s.startswith("'''"):
        body = s[3:-3]
    else:
        body = s[1:-1]
    return body.encode("raw_unicode_escape").decode("unicode_escape") \
        if "\\" in body else body


# ---------------------------------------------------------------------------
# Parsed structures
# ---------------------------------------------------------------------------

@dataclass
class _Query:
    form: str                       # select | ask | construct | describe
    where: Group | None = None
    select: list[tuple[str | None, str]] | None = None  # (sql_expr|None=var, name)
    select_star: bool = False
    distinct: bool | None = None    # DISTINCT | REDUCED | neither
    group_by: list[str] = field(default_factory=list)
    having: list[str] = field(default_factory=list)
    having_aggs: list[tuple] = field(default_factory=list)  # (alias, spec)
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    template: list[tuple] | None = None
    describe_nodes: list[str] | None = None
    describe_var: str | None = None
    post_values: list[dict] | None = None   # [] is an empty table
    # dataset clauses: FROM <g> (default-graph merge) / FROM NAMED <g>
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)


# ---------------------------------------------------------------------------
# Group contexts
# ---------------------------------------------------------------------------

_MEMBER_KEYWORDS = ("optional", "filter", "minus", "values", "bind",
                    "graph", "union", "select")
_ALL_MEMBERS = frozenset(("optional", "filter", "minus", "values", "bind",
                          "graph", "subquery", "block", "dot"))
# the OPTIONAL / [NOT] EXISTS / MINUS bodies: every member, but one
# UNION only and beside nothing but FILTERs and BINDs (_check_body)
_BODY_CONTEXT = (
    _ALL_MEMBERS, ("union",),
    "{kw} inside a {ctx} group is not supported — only triple patterns, "
    "GRAPH blocks, and plain FILTERs; restructure with the construct at "
    "the outer group level",
    "unterminated {ctx} group")
#: per group context: (members admitted, members refused, the refusal
#: text, the unterminated-group text). A member neither admitted nor
#: refused parses as a triples block, whose term grammar rejects it.
#: WHERE is a query's or subquery's group; BGP is a GRAPH body or a
#: CONSTRUCT template.
_GROUP_CONTEXTS = {
    "WHERE": (_ALL_MEMBERS, (), "", "unterminated group"),
    "OPTIONAL": _BODY_CONTEXT, "EXISTS": _BODY_CONTEXT,
    "NOT EXISTS": _BODY_CONTEXT, "MINUS": _BODY_CONTEXT,
    "UNION": (
        frozenset(("filter", "graph", "dot")),
        ("optional", "bind", "values", "minus", "union", "select",
         "subquery", "block"),
        "{kw} inside a UNION branch is not supported — only triple "
        "patterns, GRAPH blocks, and plain FILTERs here",
        "unterminated union branch"),
    "BGP": (
        frozenset(("graph",)),
        ("optional", "bind", "values", "minus", "union", "filter",
         "select", "subquery", "block"),
        "{kw} inside this group body is not supported — only triple "
        "patterns and GRAPH blocks here; restructure with the construct "
        "at the outer group level",
        "unterminated group"),
}


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_AGG_FUNCS = {"count", "sum", "avg", "min", "max", "sample",
              "group_concat"}
# the kind of an aggregate's result; MIN / MAX / SAMPLE are unknown
_AGG_KINDS = {"count": "num", "sum": "num", "avg": "num",
              "group_concat": "str"}
#: expression kinds, by how definite their type is: an unknown
#: (``unk``: a variable's lexical value, or a typed literal) takes
#: the other operand's kind, an aggregate alias (``agg``: a SELECT
#: alias of COUNT / SUM / AVG) meets a number as a number, and two
#: different definite kinds (number, plain or language-tagged string,
#: IRI, boolean) have no typed comparison
_KIND_RANK = {"unk": 0, "agg": 1, "num": 2, "str": 2, "lang": 2,
              "iri": 2, "bool": 2}


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


class _Parser(_PathGrammar):
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self._anon_bn = 0
        # patterns produced by desugaring [ p o ] blank-node property
        # lists; drained into the enclosing triples block
        self._bn_buf: list[tuple] = []
        # inside a HAVING constraint, aggregate calls are legal: they
        # compile to hidden aggregate columns on the current query
        self._having_q = None
        # SELECT aliases of COUNT/SUM/AVG results: numeric operands in
        # the query's HAVING, ORDER BY and later SELECT expressions
        self._agg_aliases: set[str] = set()
        # variables whose term metadata (kind/lang/datatype columns)
        # the compiled expressions reference — LANG(?x) etc.; the
        # evaluator's metadata requests at compile time
        self.meta_vars: set[str] = set()
        # [NOT] EXISTS embedded in a FILTER expression: allowed only
        # while a group-level FILTER is being parsed (the flag), each
        # occurrence allocating a marker (name, Group, negated) that
        # the evaluator materializes as a boolean column the
        # expression references
        self._allow_exists = False
        self._exists_markers: list[tuple[str, Group, bool]] = []
        self._fx_n = 0

    # -- token helpers ----------------------------------------------------
    def _peek(self, ahead: int = 0) -> _Tok:
        j = min(self.i + ahead, len(self.toks) - 1)
        return self.toks[j]

    def _next(self) -> _Tok:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def _expect(self, kind: str, value: str | None = None) -> _Tok:
        t = self._next()
        if t.kind != kind or (value is not None and t.value != value):
            want = value or kind
            raise SparqlSyntaxError(
                f"expected {want!r}, got {t.value!r} at offset {t.pos}")
        return t

    def _at_kw(self, *words: str, ahead: int = 0) -> bool:
        t = self._peek(ahead)
        return t.kind == "KW" and t.value in words

    def _eat_kw(self, *words: str) -> bool:
        if self._at_kw(*words):
            self._next()
            return True
        return False

    def _at_op(self, *ops: str, ahead: int = 0) -> bool:
        t = self._peek(ahead)
        return t.kind == "OP" and t.value in ops

    def _eat_op(self, op: str) -> bool:
        if self._at_op(op):
            self._next()
            return True
        return False

    # -- terms ------------------------------------------------------------
    def _expand_pname(self, pname: str, pos: int) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(
                f"undeclared prefix {pfx!r}: at offset {pos}")
        return self.prefixes[pfx] + local

    _SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

    def _iri(self, t: _Tok) -> str:
        if t.kind == "IRIREF":
            iri = t.value[1:-1]
            if self.base and not iri.startswith("_:") \
                    and not self._SCHEME_RE.match(iri):
                # RFC 3986 resolution (what every SPARQL engine does),
                # not string concatenation
                from urllib.parse import urljoin
                return urljoin(self.base, iri)
            return iri
        if t.kind == "PNAME":
            return self._expand_pname(t.value, t.pos)
        raise SparqlSyntaxError(
            f"expected IRI, got {t.value!r} at offset {t.pos}")

    def _term(self, position: str) -> str:
        """One subject/object/graph term → the algebra's string form
        (``?var`` kept, IRIs expanded without brackets, literals as
        their lexical value)."""
        t = self._next()
        if t.kind == "VAR":
            return "?" + t.value[1:]
        if t.kind == "PNAME" and t.value.startswith("_:"):
            # blank-node label: per SPARQL a non-distinguished variable
            # (never projected by SELECT *); one variable per label, so
            # repeated uses within the query join as the spec requires
            return "?" + _BNODE_VAR_PREFIX + t.value[2:]
        if t.kind in ("IRIREF", "PNAME"):
            return self._iri(t)
        lit = self._literal(t)
        if lit is not None:
            return lit[0]
        if t.kind == "OP" and t.value == "[":
            if self._eat_op("]"):
                # anonymous blank node []: a fresh non-distinguished
                # variable
                self._anon_bn += 1
                return f"?{_BNODE_VAR_PREFIX}anon{self._anon_bn}"
            # [ p o ; ... ] blank-node property list: desugars to a
            # fresh non-distinguished variable + buffered patterns
            return self._bnode_property_list()
        raise SparqlSyntaxError(
            f"bad {position} term {t.value!r} at offset {t.pos}")

    def _literal(self, t: _Tok) -> tuple[str, str] | None:
        """The literal that the consumed token ``t`` starts → (lexical
        value, kind), or None: a string with its ``@lang`` /
        ``^^datatype`` tail, a number with its sign, ``true`` /
        ``false``. A tail does not change the lexical form the single
        ``obj_value`` column stores; it only decides the kind."""
        if t.kind == "STRING":
            val = _unquote(t.value)
            if self._peek().kind == "LANGTAG":
                self._next()
                return val, "lang"
            if self._eat_op("^^"):
                dt = self._iri(self._next())
                # a typed literal may be numeric: its kind is unknown
                return val, "str" if dt == self._XSD + "string" else "unk"
            return val, "str"
        if t.kind == "OP" and t.value in ("-", "+") \
                and self._peek().kind == "NUMBER":
            num = self._next().value
            return (num if t.value == "+" else "-" + num), "num"
        if t.kind == "NUMBER":
            return t.value, "num"
        if t.kind == "KW" and t.value in ("true", "false"):
            return t.value, "bool"
        return None

    # -- property paths ---------------------------------------------------
    def _predicate(self) -> str:
        """Predicate position: a variable, ``a``, a plain IRI, or a
        property-path expression. kg's path grammar parses a path; its
        tokens are echoed, IRIs expanded to full ``<iri>`` tokens, as
        the ``kg_path`` text the pattern carries."""
        t = self._peek()
        if t.kind == "VAR":
            self._next()
            return "?" + t.value[1:]
        if t.kind == "KW" and t.value == "a":
            self._next()
            return RDF_TYPE
        self._path_text = []
        node = self._path_alt()
        if len(self._path_text) == 1:
            return node[1]               # plain IRI → bare (fast path)
        return "".join(self._path_text)

    # the token interface of kg._PathGrammar
    def _path_op(self) -> str:
        t = self._peek()
        return t.value if t.kind == "OP" and t.value in _PATH_OPS else ""

    def _path_skip(self) -> None:
        self._path_text.append(self._next().value)

    def _path_iri(self) -> str:
        iri = self._iri(self._next())
        self._path_text.append(f"<{iri}>")
        return iri

    def _path_error(self, msg: str) -> SparqlSyntaxError:
        return SparqlSyntaxError(f"{msg} at offset {self._peek().pos}")

    # -- triples block ----------------------------------------------------
    def _triples_block(self) -> list[tuple]:
        """Subject and its predicate-object list, with an optional
        trailing '.'; returns (s, p, o) tuples."""
        pats: list[tuple] = []
        subj = self._term("subject")
        # TriplesSameSubject = blankNodePropertyList with an empty
        # outer property list: { [ p o ] . } — the desugared patterns
        # ARE the block
        if not (self._bn_buf and subj.startswith("?" + _BNODE_VAR_PREFIX)
                and self._at_op(".", "}")):
            self._predicate_objects(subj, pats)
        self._eat_op(".")
        # drain patterns desugared from [ p o ] property lists parsed
        # inside this block
        pats += self._bn_buf
        self._bn_buf.clear()
        return pats

    def _bnode_property_list(self) -> str:
        """``[`` already consumed, non-empty body: a blank-node
        property list ``[ p1 o1 ; p2 o2 , o3 ]`` — desugars to a
        fresh non-distinguished variable plus buffered
        (var, p, o) patterns the enclosing triples block drains.
        Nests (an object may itself be a property list)."""
        self._anon_bn += 1
        var = f"?{_BNODE_VAR_PREFIX}anon{self._anon_bn}"
        self._predicate_objects(var, self._bn_buf)
        self._expect("OP", "]")
        return var

    def _predicate_objects(self, subj: str, out: list[tuple]) -> None:
        """``predicate object (, object)* (; ...)*`` after ``subj``:
        appends each (subj, p, o) to ``out`` once its object is read,
        so a nested property list's patterns come first. A ';' before
        the list's end ('.', '}' or ']') is a legal trailing one."""
        while True:
            pred = self._predicate()
            out.append((subj, pred, self._term("object")))
            while self._eat_op(","):
                out.append((subj, pred, self._term("object")))
            if not self._eat_op(";") or self._at_op(".", "}", "]"):
                return

    def _graphify(self, pats: list[tuple], gterm: str) -> list[tuple]:
        """Home a GRAPH body's patterns into the graph term. Path
        predicates are fine under BOTH constant and variable graphs —
        a variable graph runs one per-graph closure over every named
        graph in a single job (``kg_path(g_col=...)``)."""
        out = []
        for pat in pats:
            if len(pat) == 4:
                raise SparqlUnsupportedError(
                    "nested GRAPH clauses are not supported — flatten "
                    "to one graph level")
            out.append(pat + (gterm,))
        return out

    # -- group graph pattern ----------------------------------------------
    def _member_kind(self) -> str:
        """The kind of the group member at the cursor: a keyword
        member, ``subquery`` / ``block`` for ``{``, ``dot``, ``end``
        for ``}``, ``eof``, or ``triples``."""
        t = self._peek()
        if t.kind == "EOF":
            return "eof"
        if t.kind == "OP" and t.value == "{":
            return "subquery" if self._at_kw("select", ahead=1) \
                else "block"
        if t.kind == "OP" and t.value in ("}", "."):
            return "end" if t.value == "}" else "dot"
        if t.kind == "KW" and t.value in _MEMBER_KEYWORDS:
            return t.value
        return "triples"

    def _group(self, ctx: str = "WHERE") -> Group:
        """One GroupGraphPattern ``{ ... }`` in context ``ctx`` (a key
        of ``_GROUP_CONTEXTS``, which decides the members it admits).
        The context is also the label its error messages use."""
        admitted, refused, refusal, unterminated = _GROUP_CONTEXTS[ctx]
        self._expect("OP", "{")
        start = self.i
        g = Group()
        while (kind := self._member_kind()) != "end":
            if kind == "eof":
                raise SparqlSyntaxError(unterminated.format(ctx=ctx))
            if kind in refused:
                raise SparqlUnsupportedError(refusal.format(
                    kw=self._peek().value.upper(), ctx=ctx))
            if kind not in admitted:
                g.patterns += self._triples_block()
                continue
            if kind == "subquery":
                # SPARQL 1.1 subquery: evaluated independently
                # (bottom-up), joined to the group's solutions on the
                # shared variables
                self._next()
                self._next()
                g.subqueries.append(self._parse_select(sub=True))
                self._expect("OP", "}")
                continue
            if kind == "block":
                self._union_block(g, ctx, leading=self.i == start)
                continue
            self._next()
            if kind == "filter":
                self._group_filter(g, ctx)
            elif kind == "optional":
                g.optional.append(self._group("OPTIONAL"))
            elif kind == "minus":
                g.minus.append(self._group("MINUS"))
            elif kind == "values":
                vrows = self._values_clause()
                joined = _join_values_tables(g.values, vrows)
                if not vrows or (g.values and not joined):
                    # an empty inline table (or an empty JOIN of two
                    # tables) admits no solution — FILTER(false)
                    g.filters.append("false")
                g.values = joined
            elif kind == "bind":
                self._expect("OP", "(")
                expr = self._expression()
                self._expect("KW", "as")
                var = self._expect("VAR").value[1:]
                self._expect("OP", ")")
                g.binds.append((var, expr))
            elif kind == "graph":
                gterm = self._term("graph")
                g.patterns += self._graphify(self._group("BGP").patterns,
                                             gterm)
        self._next()
        if _GROUP_CONTEXTS[ctx] is _BODY_CONTEXT:
            self._check_body(g, ctx)
        return g

    def _group_filter(self, g: Group, ctx: str) -> None:
        """A FILTER member (keyword consumed): ``[NOT] EXISTS { ... }``
        becomes a negation body; in a WHERE group a FILTER expression
        may also EMBED [NOT] EXISTS tests (markers compiled to boolean
        columns)."""
        negated = self._at_kw("not") and (
            ctx != "WHERE" or self._at_kw("exists", ahead=1))
        if self._at_kw("exists") or negated:
            if ctx == "UNION":
                raise SparqlUnsupportedError(
                    "FILTER [NOT] EXISTS inside a UNION branch is "
                    "not supported — lift it to the outer group")
            if self._eat_kw("not"):
                self._expect("KW", "exists")
                g.not_exists.append(self._group("NOT EXISTS"))
            else:
                self._next()
                g.exists.append(self._group("EXISTS"))
        elif ctx == "WHERE":
            self._allow_exists = True
            start = len(self._exists_markers)
            fexpr = self._expression()
            self._allow_exists = False
            new = self._exists_markers[start:]
            if new:
                del self._exists_markers[start:]
                g.filter_exists.append({"expr": fexpr, "markers": new})
            else:
                g.filters.append(fexpr)
        else:
            g.filters.append(self._expression())

    def _union_block(self, g: Group, ctx: str, leading: bool) -> None:
        """A ``{`` member that is not a subquery: a nested plain group
        (inlined: its FILTERs read only its own variables, so they
        commute with the join) or a ``{ A } UNION { B } ...`` block. In
        a WHERE group a UNION that is not the whole group joins the
        other members as a solution set; a body admits one UNION and
        nothing beside it but FILTERs and BINDs."""
        block = []
        while True:
            branch = self._group("UNION")
            self._check_branch(branch, allow_meta=ctx == "WHERE")
            block.append(branch)
            if not self._eat_kw("union"):
                break
        if len(block) == 1:
            g.patterns += block[0].patterns
            g.filters += block[0].filters
        elif ctx == "WHERE":
            if not (leading and self._at_op("}")):
                self._reject_branch_meta(block)
            g.unions.append(block)
        elif g.unions:
            raise SparqlUnsupportedError(
                f"multiple UNION blocks inside one {ctx} group are not "
                "supported — merge the branches into one UNION")
        else:
            g.unions.append(block)

    @staticmethod
    def _check_body(g: Group, ctx: str) -> None:
        """An OPTIONAL / [NOT] EXISTS / MINUS body needs a required part
        (triple patterns, a subquery or one UNION) to join against."""
        if g.unions and (g.patterns or g.optional or g.not_exists
                         or g.exists or g.minus or g.values
                         or g.subqueries):
            raise SparqlUnsupportedError(
                f"UNION mixed with other members inside one {ctx} "
                "group is not supported — lift the patterns into each "
                "branch, or move them outside the group")
        if g.patterns or g.subqueries or g.unions:
            return
        if g.optional or g.binds or g.not_exists or g.exists or g.minus \
                or g.values:
            raise SparqlUnsupportedError(
                f"a {ctx} group whose body has no triple pattern "
                "or subquery has no required part to left-join the "
                "group against — add one, or restructure at the "
                "outer level")
        raise SparqlSyntaxError(f"empty {ctx} group")

    @staticmethod
    def _check_branch(b: Group, allow_meta: bool) -> None:
        """A UNION branch FILTER is scoped to the branch group: it may
        reference only variables the branch itself binds. An outer
        variable is out of scope there per SPARQL (always unbound → the
        filter errors every row), so it is refused typed instead of
        silently emptying the branch. ``allow_meta=False`` (unions
        inside group bodies, which evaluate without metadata requests)
        refuses LANG()/DATATYPE()-family references typed."""
        if b.filters and not b.patterns:
            raise SparqlUnsupportedError(
                "a UNION branch with only FILTERs has no patterns to "
                "filter — add a triple pattern")
        bound = _pattern_tuple_vars(b.patterns)
        for expr in b.filters:
            loose = _expr_identifiers(expr) - bound
            meta_refs = {x for x in loose
                         if any(x.endswith(sfx) for sfx in META_SUFFIXES)
                         and x.rsplit("__", 1)[0] in bound}
            if meta_refs and not allow_meta:
                raise SparqlUnsupportedError(
                    "LANG()/DATATYPE()/isIRI()-family builtins inside "
                    "this UNION branch's FILTER are not supported "
                    "here — lift the test to the outer group")
            loose -= meta_refs
            if loose:
                raise SparqlUnsupportedError(
                    f"UNION-branch FILTER references {sorted(loose)} "
                    "not bound in that branch — an outer variable is "
                    "out of scope inside a branch group per SPARQL; "
                    "move the FILTER to the outer group")

    @staticmethod
    def _reject_branch_meta(block: list[Group]) -> None:
        """A UNION joined as a solution set carries no term metadata —
        reject term-metadata branch-filter references typed instead of
        crashing on an unresolved column."""
        for b in block:
            for expr in b.filters:
                if any(any(x.endswith(s) for s in META_SUFFIXES)
                       for x in _expr_identifiers(expr)):
                    raise SparqlUnsupportedError(
                        "LANG()/DATATYPE()/isIRI()-family builtins in "
                        "a UNION-branch FILTER are not supported in a "
                        "UNION mixed with other members — lift the test "
                        "to the outer group")

    def _values_clause(self) -> list[dict]:
        """Both VALUES forms → list of {var: value|None} rows."""
        t = self._peek()
        if t.kind == "VAR":
            var = self._next().value[1:]
            self._expect("OP", "{")
            rows = []
            while not self._eat_op("}"):
                rows.append({var: self._values_cell()})
            return rows
        self._expect("OP", "(")
        vars_: list[str] = []
        while self._peek().kind == "VAR":
            vars_.append(self._next().value[1:])
        self._expect("OP", ")")
        self._expect("OP", "{")
        rows = []
        while not self._eat_op("}"):
            self._expect("OP", "(")
            rows.append({v: self._values_cell() for v in vars_})
            self._expect("OP", ")")
        return rows

    def _values_cell(self) -> str | None:
        if self._eat_kw("undef"):
            return None
        t = self._next()
        if t.kind in ("IRIREF", "PNAME"):
            return self._iri(t)
        lit = self._literal(t)
        if lit is None:
            raise SparqlSyntaxError(
                f"bad VALUES cell {t.value!r} at offset {t.pos}")
        return lit[0]

    # -- expressions → Spark SQL ------------------------------------------
    # Precedence: || < && < (=,!=,<,>,<=,>=,IN) < (+,-) < (*,/) < unary.
    # Every level returns (sql, kind), the kind one of _KIND_RANK's.
    def _expression(self) -> str:
        return self._expr()[0]

    def _expr(self) -> tuple[str, str]:
        x = self._expr_and()
        while self._eat_op("||"):
            x = f"({x[0]} OR {self._expr_and()[0]})", "bool"
        return x

    def _expr_and(self) -> tuple[str, str]:
        x = self._expr_rel()
        while self._eat_op("&&"):
            x = f"({x[0]} AND {self._expr_rel()[0]})", "bool"
        return x

    _REL_OPS = ("=", "!=", "<", ">", "<=", ">=")
    #: the SQL type a lexical operand is try_cast to when it meets a kind
    _CAST = {"num": "double", "agg": "double", "bool": "boolean"}

    def _expr_rel(self) -> tuple[str, str]:
        left = self._expr_add()
        if self._at_op(*self._REL_OPS):
            op = self._next().value
            return self._typed(op, left, self._expr_add())
        if not (self._at_kw("in")
                or self._at_kw("not") and self._at_kw("in", ahead=1)):
            return left
        neg = self._eat_kw("not")
        self._expect("KW", "in")
        self._expect("OP", "(")
        items: list[tuple[str, str]] = []
        while not self._eat_op(")"):
            if items:
                self._expect("OP", ",")
            items.append(self._expr_add())
        if not items:
            # legal SPARQL: IN with an empty ExpressionList is false
            # (NOT IN true) — Spark SQL's `IN ()` is a parse error
            return ("true" if neg else "false"), "bool"
        # IN is the OR of the `=` of each item, NOT IN the AND of the
        # `!=` (§17.4.1.9); when every item meets the same left operand
        # that is Spark's own IN
        pairs = [self._operands(left, it) for it in items]
        if None not in pairs and len({l for l, _ in pairs}) == 1:
            kw = "NOT IN" if neg else "IN"
            return (f"({pairs[0][0]} {kw} "
                    f"({', '.join(r for _, r in pairs)}))"), "bool"
        op, conj = ("!=", " AND ") if neg else ("=", " OR ")
        tests = [self._typed(op, left, it)[0] for it in items]
        return f"({conj.join(tests)})", "bool"

    def _expr_add(self) -> tuple[str, str]:
        x = self._expr_mul()
        while self._at_op("+", "-"):
            op = self._next().value
            x = self._typed(op, x, self._expr_mul())
        return x

    def _expr_mul(self) -> tuple[str, str]:
        x = self._expr_unary()
        while self._at_op("*", "/"):
            op = self._next().value
            x = self._typed(op, x, self._expr_unary())
        return x

    def _coerce(self, x: tuple[str, str], kind: str) -> str | None:
        """Operand ``x`` as a value of ``kind``, or None: a type error.
        A lexical operand (a variable, or an aggregate alias meeting a
        number) is try_cast, not cast: the session runs ANSI mode, where
        one malformed value would fail the whole (retried) task, while
        SPARQL calls it a type error."""
        sql, k = x
        if k == kind:
            return sql
        if k == "unk" or (k == "agg" and kind == "num"):
            return (f"try_cast({sql} as {self._CAST[kind]})"
                    if kind in self._CAST else sql)
        return None

    def _operands(self, a: tuple[str, str],
                  b: tuple[str, str]) -> tuple[str, str] | None:
        """Both operands of a comparison as the more definite of their
        two kinds, or None when the kinds differ: a type error."""
        kind = max(a[1], b[1], key=_KIND_RANK.__getitem__)
        left, right = self._coerce(a, kind), self._coerce(b, kind)
        return None if left is None or right is None else (left, right)

    def _typed(self, op: str, a: tuple[str, str],
               b: tuple[str, str] | None = None) -> tuple[str, str]:
        """The one typed operator: a comparison, arithmetic, or (no
        ``b``) unary minus. A kind mismatch is a type error — NULL,
        which drops the solution under FILTER and HAVING (§17.2–17.3)
        — except that RDFterm-equal calls an IRI unequal to any
        literal (§17.4.1.7). Arithmetic is over doubles, and division
        by zero is a type error too."""
        if op in self._REL_OPS:
            pair = self._operands(a, b)
            if pair is not None:
                return f"({pair[0]} {op} {pair[1]})", "bool"
            if "iri" in (a[1], b[1]) and op in ("=", "!="):
                return ("false" if op == "=" else "true"), "bool"
            return "CAST(NULL AS BOOLEAN)", "bool"
        args = [self._coerce(x, "num") for x in (a, b) if x is not None]
        if None in args:
            return "CAST(NULL AS DOUBLE)", "num"
        if b is None:
            return f"(- {args[0]})", "num"
        if op == "/":
            return f"try_divide({args[0]}, {args[1]})", "num"
        return f"({args[0]} {op} {args[1]})", "num"

    def _exists_marker(self, negated: bool) -> tuple[str, str]:
        """One [NOT] EXISTS { ... } occurrence inside a FILTER
        expression → a fresh boolean marker column reference."""
        if not self._allow_exists:
            raise SparqlUnsupportedError(
                "[NOT] EXISTS is only supported inside group-level "
                "FILTER expressions — restructure the query")
        # the flag must NOT leak into the EXISTS body: an embedded
        # EXISTS inside the body's own FILTER would otherwise hoist
        # its marker to the OUTER filter and leave an unresolvable
        # column in the inner group — raise typed instead
        self._allow_exists = False
        try:
            entry = self._group("NOT EXISTS" if negated else "EXISTS")
        finally:
            self._allow_exists = True
        if any(grp.subqueries for grp in entry.walk()):
            # the marker-join path has no subquery compile hook —
            # refuse rather than silently dropping the subquery
            raise SparqlUnsupportedError(
                "subqueries inside an expression-embedded [NOT] "
                "EXISTS are not supported — use a standalone "
                "FILTER [NOT] EXISTS or lift the subquery")
        name = f"_fx{self._fx_n}"
        self._fx_n += 1
        self._exists_markers.append((name, entry, negated))
        return f"`{name}`", "bool"

    def _expr_unary(self) -> tuple[str, str]:
        if self._eat_kw("exists"):
            return self._exists_marker(False)
        if self._at_kw("not") and self._at_kw("exists", ahead=1):
            self._next()
            self._next()
            return self._exists_marker(True)
        if self._eat_op("!"):
            return f"(NOT {self._expr_unary()[0]})", "bool"
        # a sign before a number is the literal's (_literal)
        if self._at_op("-", "+") and self._peek(1).kind != "NUMBER":
            if self._next().value == "-":
                return self._typed("-", self._expr_unary())
            return self._expr_unary()
        return self._expr_primary()

    # SPARQL builtin → Spark SQL function (same arity, same position)
    _FUNC_MAP = {
        "str": "cast({0} as string)", "strlen": "length({0})",
        "ucase": "upper({0})", "lcase": "lower({0})",
        "contains": "contains({0}, {1})",
        "strstarts": "startswith({0}, {1})",
        "strends": "endswith({0}, {1})",
        "substr": None,  # handled: SPARQL is 1-based like Spark substring
        "concat": None, "abs": None, "ceil": "ceiling({0})",
        "floor": None, "round": None, "coalesce": None, "if": None,
        # SPARQL REPLACE is fn:replace = REGEX-based, not literal
        "replace": "regexp_replace({0}, {1}, {2})",
        # STRBEFORE/STRAFTER return '' when the needle is absent;
        # with an empty needle instr() = 1, giving '' / the whole
        # string — exactly the fn:substring-before/-after contract
        "strbefore": "(CASE WHEN instr({0}, {1}) > 0 THEN "
                     "substring({0}, 1, instr({0}, {1}) - 1) "
                     "ELSE '' END)",
        "strafter": "(CASE WHEN instr({0}, {1}) > 0 THEN "
                    "substring({0}, instr({0}, {1}) + length({1})) "
                    "ELSE '' END)",
        # url_encode is form-encoding (space → '+'); ENCODE_FOR_URI
        # wants %20 — literal '+' is already %2B-escaped, so the
        # replace is unambiguous
        # url_encode is java.net form-encoding; fn:encode-for-uri
        # differs on three code points: space ('+' vs %20), '~'
        # (unreserved, must stay raw) and '*' (reserved, must encode)
        "encode_for_uri": "replace(replace(replace(url_encode({0}), "
                          "'+', '%20'), '%7E', '~'), '*', '%2A')",
        "md5": None, "sha1": None,
        "sha256": "sha2({0}, 256)", "sha384": "sha2({0}, 384)",
        "sha512": "sha2({0}, 512)",
        # the triples frame stores IRIs as plain strings, so IRI(x)
        # is the identity on the lexical value (no base resolution —
        # the engine's IRIs are absolute); enables the documented
        # skolem-template idiom BIND(IRI(CONCAT(...)) AS ?node)
        "iri": "{0}", "uri": "{0}",
        # SPARQL §17.4.5 dateTime accessors: xsd:dateTime literals are
        # stored as their lexical form, so each accessor try_casts the
        # string to a timestamp first — a malformed lexical form yields
        # NULL (the SPARQL type-error contract: a FILTER comparison
        # then drops the solution). try_cast, not cast: the session
        # runs ANSI mode, where a plain cast of a bad string THROWS —
        # one dirty literal would fail the whole (retried) task.
        # Deviation: SECONDS returns whole seconds (an integer), not
        # the fraction-carrying xsd:decimal of fn:seconds-from-dateTime.
        "year": "year(try_cast({0} as timestamp))",
        "month": "month(try_cast({0} as timestamp))",
        "day": "day(try_cast({0} as timestamp))",
        "hours": "hour(try_cast({0} as timestamp))",
        "minutes": "minute(try_cast({0} as timestamp))",
        "seconds": "second(try_cast({0} as timestamp))",
    }
    # the kind of a _FUNC_MAP builtin's result; the rest are strings
    _FUNC_KINDS = {
        **dict.fromkeys(("strlen", "abs", "ceil", "floor", "round", "year",
                         "month", "day", "hours", "minutes", "seconds"),
                        "num"),
        "contains": "bool", "strstarts": "bool", "strends": "bool",
        "coalesce": "unk", "if": "unk", "iri": "iri", "uri": "iri"}

    # refused with a reason, never mis-executed: a retried Spark task
    # re-evaluates its expressions, so a nondeterministic builtin would
    # give two executions of the SAME task different answers — results
    # would not be reproducible (and exactly-once sinks would diverge)
    _NONDETERMINISTIC = ("now", "rand", "uuid", "struuid", "bnode")

    def _expr_primary(self) -> tuple[str, str]:
        t = self._next()
        if t.kind == "VAR":
            v = t.value[1:]
            return f"`{v}`", "agg" if v in self._agg_aliases else "unk"
        lit = self._literal(t)
        if lit is not None:
            return (_sql_str(lit[0]) if t.kind == "STRING"
                    else lit[0]), lit[1]
        if t.kind in ("IRIREF", "PNAME"):
            iri = self._iri(t)
            if not self._eat_op("("):
                return _sql_str(iri), "iri"
            # XSD cast constructor, e.g. xsd:integer(?n)
            sqlt = self._XSD_CASTS.get(iri)
            if sqlt is None:
                raise SparqlUnsupportedError(
                    f"constructor <{iri}>() is not a supported XSD cast")
            arg = self._expression()
            self._expect("OP", ")")
            # a failed constructor cast is a SPARQL type error (the
            # solution drops) — under ANSI a plain cast would throw
            return f"try_cast({arg} as {sqlt})", self._SQL_KINDS.get(
                sqlt, "num")
        if t.kind == "OP" and t.value == "(":
            # no re-wrap: every binary combinator parenthesizes its
            # own result, so source parens add nothing but noise
            x = self._expr()
            self._expect("OP", ")")
            return x
        if t.kind == "NAME" and t.value.lower() in _AGG_FUNCS \
                and self._having_q is not None:
            # aggregate inside a HAVING constraint: compile to a
            # hidden aggregate column (dropped after the filter)
            spec = self._agg_spec_after_name(t.value.lower())
            hq = self._having_q
            kind = _AGG_KINDS.get(spec[0], "unk")
            for alias, sp in hq.having_aggs:
                if sp == spec:
                    return f"`{alias}`", kind
            alias = f"_h_agg_{len(hq.having_aggs)}"
            hq.having_aggs.append((alias, spec))
            return f"`{alias}`", kind
        if t.kind == "NAME" or (t.kind == "KW" and t.value == "bound"):
            return self._builtin_call(t)
        raise SparqlSyntaxError(
            f"bad expression token {t.value!r} at offset {t.pos}")

    _XSD = "http://www.w3.org/2001/XMLSchema#"
    _XSD_CASTS = {
        _XSD + "integer": "bigint", _XSD + "long": "bigint",
        _XSD + "int": "int", _XSD + "decimal": "decimal(38,18)",
        _XSD + "double": "double", _XSD + "float": "float",
        _XSD + "string": "string", _XSD + "boolean": "boolean",
        _XSD + "date": "date", _XSD + "dateTime": "timestamp",
    }
    # the kind of a cast's result; the other XSD casts are numeric
    _SQL_KINDS = {"string": "str", "boolean": "bool", "date": "unk",
                  "timestamp": "unk"}

    def _regex_flags(self, arg: str, label: str) -> str:
        """Validate a REGEX()/REPLACE() flags argument (XPath
        fn:matches flags): must be a string literal over i/s/m/q.
        i/s/m map to Java's inline ``(?ism)`` embedded flags (Spark
        RLIKE / regexp_replace run java.util.regex); ``q`` (literal
        pattern) is handled by the callers. XPath's ``x`` is NOT
        supported: Java's (?x) additionally treats ``#`` as a
        comment-to-end-of-line marker, silently diverging from
        fn:matches on any pattern containing ``#``."""
        m = re.fullmatch(r"'([a-zA-Z]*)'", arg)
        if m is None:
            raise SparqlUnsupportedError(
                f"{label}() flags must be a plain string literal")
        flags = m.group(1)
        bad = sorted(set(flags) - set("ismq"))
        if bad:
            raise SparqlUnsupportedError(
                f"{label}() flag(s) {bad} are not supported — "
                "i/s/m/q only")
        return flags

    def _builtin_call(self, t: _Tok) -> tuple[str, str]:
        name = t.value.lower()
        self._expect("OP", "(")
        if name == "bound":
            var = self._expect("VAR").value[1:]
            self._expect("OP", ")")
            return f"(`{var}` IS NOT NULL)", "bool"
        typed = []
        while not self._eat_op(")"):
            typed.append(self._expr())
            self._eat_op(",")
        if name in ("abs", "ceil", "floor", "round"):
            # numeric arguments: a lexical one is try_cast, any other
            # kind is a type error
            typed = [(self._coerce(x, "num") or "CAST(NULL AS DOUBLE)",
                      "num") for x in typed]
        args = [sql for sql, _ in typed]
        if name == "regex":
            if len(args) not in (2, 3):
                raise SparqlSyntaxError("REGEX() takes 2 or 3 arguments")
            if len(args) == 3:
                flags = self._regex_flags(args[2], "REGEX")
                if not flags:
                    return f"({args[0]} RLIKE {args[1]})", "bool"
                if "q" in flags:
                    # 'q' (XPath fn:matches): the pattern is a literal
                    # string, so the match is substring containment;
                    # 'iq' folds case first
                    s, p = args[0], args[1]
                    if "i" in flags:
                        s, p = f"lower({s})", f"lower({p})"
                    return f"(instr({s}, {p}) > 0)", "bool"
                return (f"({args[0]} RLIKE concat('(?{flags})', "
                        f"{args[1]}))", "bool")
            return f"({args[0]} RLIKE {args[1]})", "bool"
        if name in ("datatype", "lang", "isiri", "isuri", "isliteral",
                    "isblank"):
            # term-metadata builtins: compile onto the
            # {var}__kind/__lang/__datatype columns bgp_match emits
            # for meta_vars (the argument must be a plain variable)
            m = re.fullmatch(r"`(\w+)`", args[0]) if args else None
            if m is None:
                raise SparqlUnsupportedError(
                    f"{name.upper()}() takes a plain variable "
                    "argument in this subset")
            v = m.group(1)
            self.meta_vars.add(v)
            if name == "lang":
                # LANG of a non-literal is a SPARQL type error → NULL
                # here, so a FILTER comparison drops the solution
                # (mirrors the DATATYPE branch below)
                return (f"(CASE WHEN `{v}__kind` = 'literal' THEN "
                        f"coalesce(`{v}__lang`, '') ELSE NULL END)",
                        "str")
            if name == "datatype":
                # lang-tagged → rdf:langString; plain literal →
                # declared datatype or xsd:string; IRI/bnode → null
                # (SPARQL type error: the solution drops in FILTER)
                return (
                    f"(CASE WHEN `{v}__lang` IS NOT NULL THEN "
                    f"'{_RDF_NS}langString' WHEN `{v}__kind` = "
                    f"'literal' THEN coalesce(`{v}__datatype`, "
                    f"'{self._XSD}string') ELSE NULL END)", "iri")
            kind = {"isiri": "iri", "isuri": "iri",
                    "isliteral": "literal", "isblank": "bnode"}[name]
            return f"(`{v}__kind` = '{kind}')", "bool"
        if name == "sameterm":
            # sameTerm(A, B): identical RDF terms — lexical value plus
            # kind/lang/datatype metadata all equal (null-safe on the
            # metadata: two plain literals share lang=NULL). An
            # unbound argument is a SPARQL type error: `=` yields
            # NULL and the FILTER drops the solution.
            if len(args) != 2:
                raise SparqlSyntaxError("SAMETERM takes 2 arguments")
            ms = [re.fullmatch(r"`(\w+)`", a) for a in args]
            if not all(ms):
                raise SparqlUnsupportedError(
                    "SAMETERM() takes plain variable arguments in "
                    "this subset")
            a, b = (m.group(1) for m in ms)
            self.meta_vars.add(a)
            self.meta_vars.add(b)
            return (f"(`{a}` = `{b}` AND `{a}__kind` <=> `{b}__kind` "
                    f"AND `{a}__lang` <=> `{b}__lang` AND "
                    f"`{a}__datatype` <=> `{b}__datatype`)", "bool")
        if name == "langmatches":
            if len(args) != 2:
                raise SparqlSyntaxError("LANGMATCHES takes 2 arguments")
            a, b = args
            return (
                f"(CASE WHEN {b} = '*' THEN {a} <> '' ELSE "
                f"(lower({a}) = lower({b}) OR "
                f"startswith(lower({a}), lower({b}) || '-')) END)",
                "bool")
        if name == "replace" and len(args) > 4:
            raise SparqlSyntaxError("REPLACE() takes at most 4 arguments")
        if name == "replace" and len(args) == 4:
            flags = self._regex_flags(args[3], "REPLACE")
            if not flags:
                return (f"regexp_replace({args[0]}, {args[1]}, "
                        f"{args[2]})", "str")
            if "q" in flags:
                # 'q': pattern AND replacement are literal strings
                # (XPath fn:replace with q) — plain substring replace
                if flags != "q":
                    raise SparqlUnsupportedError(
                        "REPLACE() flag 'q' cannot combine with "
                        "regex flags")
                return (f"replace({args[0]}, {args[1]}, {args[2]})",
                        "str")
            return (f"regexp_replace({args[0]}, concat('(?{flags})', "
                    f"{args[1]}), {args[2]})", "str")
        if name in self._FUNC_MAP:
            tmpl = self._FUNC_MAP[name]
            sql = tmpl.format(*args) if tmpl else \
                f"{name}({', '.join(args)})"
            return sql, self._FUNC_KINDS.get(name, "str")
        if name in self._NONDETERMINISTIC:
            raise SparqlUnsupportedError(
                f"{name.upper()}() is nondeterministic — a retried "
                "Spark task would re-evaluate it to a different value, "
                "so results would not be reproducible; bind the value "
                "once in the driver and pass it as a constant instead")
        if name in ("tz", "timezone"):
            raise SparqlUnsupportedError(
                f"{name.upper()}() is not supported — the engine "
                "stores xsd:dateTime lexical forms without timezone "
                "normalization (the session runs in UTC)")
        raise SparqlUnsupportedError(
            f"builtin {name.upper()}() is not in the compiled subset")

    # -- aggregates / select list -----------------------------------------
    def _select_item(self) -> tuple:
        """One SELECT item → ('var', name) | ('agg', Column, alias) |
        ('expr', sql, alias)."""
        t = self._peek()
        if t.kind == "VAR":
            self._next()
            return ("var", t.value[1:])
        if t.kind == "OP" and t.value == "(":
            self._next()
            item = self._agg_or_expr()
            self._expect("KW", "as")
            alias = self._expect("VAR").value[1:]
            self._expect("OP", ")")
            return item + (alias,)
        raise SparqlSyntaxError(
            f"bad SELECT item {t.value!r} at offset {t.pos}")

    def _agg_or_expr(self) -> tuple:
        t = self._peek()
        if t.kind == "NAME" and t.value.lower() in _AGG_FUNCS:
            name = self._next().value.lower()
            return ("agg", self._agg_spec_after_name(name))
        return ("expr", self._expression())

    def _agg_spec_after_name(self, name: str) -> tuple:
        """Aggregate call body after its NAME token: '(' [DISTINCT]
        expr|'*' [; SEPARATOR=str] ')' -> (name, arg, distinct, sep)."""
        self._expect("OP", "(")
        distinct = self._eat_kw("distinct")
        sep = " "   # SPARQL 1.1 §18.5.1.7: default separator is a space
        arg = None if self._eat_op("*") else self._expression()
        if name == "group_concat" and self._eat_op(";"):
            w = self._next()       # SEPARATOR keyword (as NAME)
            if w.kind != "NAME" or w.value.lower() != "separator":
                raise SparqlSyntaxError(
                    f"expected SEPARATOR at offset {w.pos}")
            self._expect("OP", "=")
            sep = _unquote(self._expect("STRING").value)
        self._expect("OP", ")")
        return (name, arg, distinct, sep)

    # -- query forms -------------------------------------------------------
    def parse(self) -> _Query:
        while True:
            if self._eat_kw("prefix"):
                p = self._expect("PNAME")
                if not p.value.endswith(":"):
                    raise SparqlSyntaxError(
                        f"bad prefix declaration at offset {p.pos}")
                iri = self._expect("IRIREF").value[1:-1]
                self.prefixes[p.value[:-1]] = iri
            elif self._eat_kw("base"):
                self.base = self._expect("IRIREF").value[1:-1]
            else:
                break
        if self._eat_kw("select"):
            q = self._parse_select()
        elif self._eat_kw("ask"):
            q = _Query(form="ask")
            self._dataset_clause(q)
            self._eat_kw("where")
            q.where = self._group()
        elif self._eat_kw("construct"):
            q = _Query(form="construct")
            if self._at_kw("where") or self._at_kw("from"):
                # CONSTRUCT WHERE { ... } shorthand: the template IS
                # the (plain-BGP) where clause
                self._dataset_clause(q)
                self._expect("KW", "where")
                pats = self._group("BGP").patterns
                q.template = [p[:3] for p in pats]
                q.where = Group(patterns=pats)
            else:
                q.template = self._group("BGP").patterns
                self._dataset_clause(q)
                self._expect("KW", "where")
                q.where = self._group()
        elif self._eat_kw("describe"):
            q = _Query(form="describe")
            if self._peek().kind == "VAR":
                q.describe_var = self._next().value[1:]
                self._dataset_clause(q)
                self._eat_kw("where")
                q.where = self._group()
            else:
                nodes = [self._iri(self._next())]
                while self._peek().kind in ("IRIREF", "PNAME"):
                    nodes.append(self._iri(self._next()))
                self._dataset_clause(q)
                q.describe_nodes = nodes
        else:
            t = self._peek()
            raise SparqlSyntaxError(
                f"expected SELECT/ASK/CONSTRUCT/DESCRIBE, got "
                f"{t.value!r} at offset {t.pos}")
        if self._peek().kind != "EOF":
            t = self._peek()
            raise SparqlSyntaxError(
                f"trailing input {t.value!r} at offset {t.pos}")
        return q

    def _dataset_clause(self, q: _Query) -> None:
        """FROM <g> / FROM NAMED <g> dataset clauses (SPARQL §13.2):
        FROM graphs merge into the default graph, FROM NAMED graphs
        are the named-graph set. Stored on the query; the executor
        applies them as pushed graph-column filters."""
        while self._eat_kw("from"):
            t = self._next()
            if t.kind == "KW" and t.value == "named":
                q.from_named.append(self._iri(self._next()))
            else:
                q.from_graphs.append(self._iri(t))

    def _parse_select(self, sub: bool = False) -> _Query:
        q = _Query(form="select")
        outer_aliases, self._agg_aliases = self._agg_aliases, set()
        if self._eat_kw("distinct"):
            q.distinct = True
        elif self._eat_kw("reduced"):
            q.distinct = False
        if self._eat_op("*"):
            q.select_star = True
        else:
            items = []
            while self._peek().kind == "VAR" or self._at_op("("):
                item = self._select_item()
                items.append(item)
                if item[0] == "agg" and _AGG_KINDS.get(item[1][0]) == "num":
                    self._agg_aliases.add(item[2])
            if not items:
                raise SparqlSyntaxError("empty SELECT list")
            q.select = items
        if self._at_kw("from"):
            if sub:
                raise SparqlSyntaxError(
                    "FROM/FROM NAMED are not allowed in a subquery "
                    "(SPARQL SubSelect has no dataset clause)")
            self._dataset_clause(q)
        self._eat_kw("where")
        # the aliases bind after grouping, not in the WHERE group
        aliases, self._agg_aliases = self._agg_aliases, set()
        q.where = self._group()
        if self._eat_kw("group"):
            self._expect("KW", "by")
            while True:
                if self._peek().kind == "VAR":
                    q.group_by.append(self._next().value[1:])
                elif self._eat_op("("):
                    # GROUP BY (expr AS ?v): per SPARQL §18.2.4.1 the
                    # key expression binds ?v — desugared to a BIND
                    # (Extend happens before Group in the algebra)
                    gexpr = self._expression()
                    self._expect("KW", "as")
                    gvar = self._expect("VAR").value[1:]
                    self._expect("OP", ")")
                    # the key var is NOT in scope inside the WHERE
                    # group (SPARQL binds it at the Group step); the
                    # BIND desugaring would make a WHERE filter see it
                    # — refuse rather than diverge from the spec's
                    # type-error-drops-everything behavior
                    refs = [f for f in q.where.filters
                            if gvar in _expr_identifiers(f)]
                    refs += [fe["expr"] for fe in q.where.filter_exists
                             if gvar in _expr_identifiers(fe["expr"])]
                    if refs:
                        raise SparqlUnsupportedError(
                            f"GROUP BY key ?{gvar} is referenced by a "
                            "WHERE-group FILTER, where SPARQL has it "
                            "out of scope — rename the key or move "
                            "the filter to HAVING")
                    q.where.binds.append((gvar, gexpr))
                    q.group_by.append(gvar)
                elif (self._peek().kind == "NAME"
                        and self._at_op("(", ahead=1)):
                    raise SparqlUnsupportedError(
                        "a bare expression GROUP BY key is not "
                        "supported — name it: GROUP BY (expr AS ?k)")
                else:
                    break
            if not q.group_by:
                raise SparqlSyntaxError("empty GROUP BY")
        self._agg_aliases = aliases
        if self._eat_kw("having"):
            self._having_q = q
            q.having.append(self._expression())
            while self._at_op("("):
                q.having.append(self._expression())
            self._having_q = None
        if self._eat_kw("order"):
            self._expect("KW", "by")
            while True:
                t = self._peek()
                if self._eat_kw("asc") or self._eat_kw("desc"):
                    desc = t.value == "desc"
                    self._expect("OP", "(")
                    expr = self._expression()
                    self._expect("OP", ")")
                    q.order_by.append((expr, desc))
                elif t.kind == "VAR":
                    self._next()
                    q.order_by.append((f"`{t.value[1:]}`", False))
                elif t.kind == "OP" and t.value == "(":
                    # bare BrackettedExpression order condition
                    self._next()
                    expr = self._expression()
                    self._expect("OP", ")")
                    q.order_by.append((expr, False))
                elif t.kind == "NAME" and self._at_op("(", ahead=1):
                    # bare BuiltInCall order condition,
                    # e.g. ORDER BY STRLEN(?a)
                    q.order_by.append((self._expression(), False))
                else:
                    break
            if not q.order_by:
                raise SparqlSyntaxError("empty ORDER BY")
        while True:     # LIMIT/OFFSET accept either order
            if self._eat_kw("limit"):
                q.limit = self._nonneg_int("LIMIT")
            elif self._eat_kw("offset"):
                q.offset = self._nonneg_int("OFFSET")
            else:
                break
        if self._eat_kw("values"):
            # trailing ValuesClause (SPARQL grammar rule [28]):
            # joined to the FINAL results, after solution modifiers
            q.post_values = self._values_clause()
        self._agg_aliases = outer_aliases
        return q

    def _nonneg_int(self, what: str) -> int:
        t = self._expect("NUMBER")
        if not t.value.isdigit():
            raise SparqlSyntaxError(
                f"{what} takes a non-negative integer, got {t.value!r} "
                f"at offset {t.pos}")
        return int(t.value)


# ---------------------------------------------------------------------------
# Compiler
# ---------------------------------------------------------------------------

def _query_patterns(q: "_Query"):
    """Every pattern tuple in the query's groups, subqueries included."""
    if q.where is not None:
        for grp in q.where.walk():
            yield from grp.patterns
            for sq in grp.subqueries:
                yield from _query_patterns(sq)


def _apply_dataset_clause(triples: DataFrame, q: "_Query",
                          g_col: str) -> DataFrame:
    """FROM / FROM NAMED (SPARQL §13.2) as pushed graph-column
    filters. Exactly-supported scopes: FROM alone (the query's
    patterns all match the default graph = merge of the FROM graphs;
    GRAPH clauses would need the separate named scope → typed error)
    and FROM NAMED alone (every pattern carries a GRAPH term; a
    pattern outside GRAPH would match the EMPTY default graph →
    typed error instead of silently returning nothing)."""
    if g_col not in triples.columns:
        raise SparqlUnsupportedError(
            "FROM/FROM NAMED need a named-graph column on the "
            "triples frame")
    if q.from_graphs and q.from_named:
        raise SparqlUnsupportedError(
            "combining FROM and FROM NAMED is not supported — the "
            "default and named scopes would need separate scans; "
            "split the query")
    pats = list(_query_patterns(q))
    if q.from_graphs:
        if any(len(p) == 4 for p in pats):
            raise SparqlUnsupportedError(
                "FROM together with GRAPH clauses is not supported — "
                "use FROM NAMED for named-graph matching")
        return triples.where(F.col(g_col).isin(q.from_graphs))
    if any(len(p) == 3 for p in pats):
        raise SparqlUnsupportedError(
            "FROM NAMED without FROM leaves the default graph empty — "
            "a pattern outside GRAPH can never match; wrap it in "
            "GRAPH or add FROM")
    return triples.where(F.col(g_col).isin(q.from_named))


def _agg_column(spec: tuple, alias: str, all_cols: list[str]) -> Any:
    name, arg, distinct, sep = spec
    col = F.expr(arg) if arg is not None else None
    if name == "count":
        if col is None:
            if distinct:
                # COUNT(DISTINCT *) = distinct SOLUTIONS: the struct
                # must cover only distinguished variables — a
                # non-distinguished blank-node column (_bn_*) or a
                # {var}__kind/__lang/__datatype metadata column would
                # overcount (two rows differing only there are ONE
                # solution)
                sol_cols = [c for c in all_cols
                            if not c.startswith(_BNODE_VAR_PREFIX)
                            and not any(c.endswith(sfx)
                                        for sfx in _META_SUFFIXES)]
                return F.countDistinct(
                    F.struct(*[F.col(c) for c in sol_cols])).alias(alias)
            return F.count(F.lit(1)).alias(alias)
        return (F.countDistinct(col) if distinct
                else F.count(col)).alias(alias)
    if col is None:
        raise SparqlSyntaxError(f"{name.upper()}(*) is not SPARQL")
    if name in ("sum", "avg"):
        if distinct:
            # SUM/AVG(DISTINCT expr) — aggregate over the distinct
            # VALUE multiset per SPARQL 18.5.1
            col = F.expr(
                f"{name}(DISTINCT try_cast(({arg}) as double))")
        else:
            # try_cast: one dirty literal must not fail the whole
            # aggregate job under ANSI. Documented deviation: strict
            # SPARQL errors the WHOLE aggregate when any value
            # errors (unbound result); this engine skips the dirty
            # value (SQL NULL-skip), the behavior every SQL oracle
            # shares and the one a 100 TB corpus needs
            col = getattr(F, name)(F.expr(
                f"try_cast(({arg}) as double)"))
    elif name in ("min", "max"):
        col = getattr(F, name)(col)   # DISTINCT is a no-op for MIN/MAX
    elif name == "sample":
        # SAMPLE is implementation-defined; min() makes it deterministic
        # (and DISTINCT a no-op)
        col = F.min(col)
    elif name == "group_concat":
        inner = (F.collect_set if distinct else F.collect_list)(col)
        # SPARQL leaves concatenation order undefined; sorting makes
        # the result deterministic (and distributable — no global order)
        col = F.array_join(F.array_sort(inner), sep)
    return col.alias(alias)


def _join_subqueries(triples: DataFrame, g: Group, cols: dict,
                     distinct_solutions: bool,
                     meta_vars: frozenset) -> Group:
    """Compile every subquery in ``g``, at any depth, bottom-up (SPARQL
    §18.2.2) into a solution join of the group that holds it.
    Substitution does not descend into subqueries, so each compiles
    independently of the outer solutions; the evaluator refuses, typed,
    a subquery-only variable shared with an outer [NOT] EXISTS / MINUS
    solution."""
    joins = list(g.solution_joins)
    for sq in g.subqueries:
        sdf, snul, scalar = _compile_select(
            triples, sq, cols, distinct_solutions, meta_vars)
        joins.append({"df": sdf, "nullable": snul,
                      "allow_disjoint": scalar})

    def nested(groups: list[Group]) -> list[Group]:
        return [_join_subqueries(triples, x, cols, distinct_solutions,
                                 meta_vars) for x in groups]
    return replace(g, subqueries=[], solution_joins=joins,
                   optional=nested(g.optional),
                   not_exists=nested(g.not_exists),
                   exists=nested(g.exists), minus=nested(g.minus))


def _solutions(triples: DataFrame, g: Group, cols: dict,
               distinct_solutions: bool,
               meta_vars: frozenset = frozenset()
               ) -> tuple[DataFrame, set[str]]:
    """The WHERE group → (solutions, variables that may be unbound).
    Every query form (SELECT and subqueries, ASK, CONSTRUCT, DESCRIBE)
    reads its solutions from here: the group's subqueries become
    solution joins, then ``kg._compile`` evaluates it."""
    g = _join_subqueries(triples, g, cols, distinct_solutions, meta_vars)
    if g.union_branches is not None:
        scope = g.vars()
    else:
        req = _pattern_tuple_vars(g.patterns)
        # a UNION that joins the other members as a solution set
        # carries no term metadata
        bad = (set(meta_vars) & {v for block in g.unions
                                 for b in block for v in b.vars()}) - req
        if bad:
            raise SparqlUnsupportedError(
                "LANG()/DATATYPE()/isIRI()-family builtins over the "
                f"UNION-bound variable(s) {sorted(bad)} are not "
                "supported — bind the variable in a required triple "
                "pattern outside the UNION")
        scope = req | g.nullable()
    out, _, nullable, _, _ = _compile(
        triples, g, tuple(cols.values()), set(), "query",
        set(meta_vars) & scope, top=True, distinct=distinct_solutions)
    return out, nullable


def _compile_select(triples: DataFrame, q: _Query, cols: dict,
                    distinct_solutions: bool,
                    meta_vars: frozenset = frozenset()
                    ) -> tuple[DataFrame, set[str], bool]:
    """Compile a (sub)SELECT to (solutions DataFrame, nullable
    projected variables, is_scalar) — is_scalar marks an aggregate
    query with no GROUP BY, which produces exactly one row (the
    scalar-subquery idiom; joined disjoint via broadcast). Each
    solution modifier runs once, in SPARQL §18.2.4–18.2.5 order:
    Group / Aggregate, Having, VALUES, Extend / Project, Distinct,
    OrderBy, Slice."""
    _refuse_constant(q.where)
    df, nullable = _solutions(triples, q.where, cols,
                              distinct_solutions, meta_vars)
    items = q.select or []
    has_agg = any(item[0] == "agg" for item in items)
    grouped = bool(q.group_by or has_agg or q.having_aggs)
    scalar = has_agg and not q.group_by
    if grouped:
        if q.select_star:
            raise SparqlSyntaxError("SELECT * with GROUP BY is not SPARQL")
        ungrouped = set(df.columns) - set(q.group_by)
        aggs, agg_nul = [], set()
        for item in items:
            if item[0] == "agg":
                aggs.append(_agg_column(item[1], item[2], df.columns))
                name, arg = item[1][0], item[1][1]
                # COUNT is never null; other aggregates are null on an
                # empty (scalar) input or an all-null nullable arg
                if name != "count" and (scalar or (
                        arg and any(x in nullable
                                    for x in _expr_identifiers(arg)))):
                    agg_nul.add(item[2])
            elif item[0] == "var" and item[1] not in q.group_by:
                raise SparqlSyntaxError(
                    f"?{item[1]} is projected but neither grouped "
                    "nor aggregated")
            elif item[0] == "expr":
                # (expr AS ?x) beside aggregates: may reference group
                # keys and SELECT aliases (SPARQL's in-scope rule);
                # anything else surfaces as an unresolved column
                bad = sorted(_expr_identifiers(item[1]) & ungrouped)
                if bad:
                    raise SparqlSyntaxError(
                        f"(… AS ?{item[2]}) references ungrouped "
                        f"variables {bad} — aggregate them "
                        "or add them to GROUP BY")
        # aggregates referenced only by HAVING are hidden columns,
        # which the projection drops
        aggs += [_agg_column(spec, alias, df.columns)
                 for alias, spec in q.having_aggs]
        nullable = agg_nul | (nullable & set(q.group_by))
        if aggs:
            df = df.groupBy(*q.group_by).agg(*aggs) if q.group_by \
                else df.agg(*aggs)
        else:
            # GROUP BY with no aggregate in SELECT: one row per group
            df = df.select(*q.group_by).distinct()
        # in scope after grouping (§18.2.4.1): the aggregates and the
        # keys the query reads outside an aggregate
        reads = set().union(*map(_expr_identifiers, [
            f"`{item[1]}`" if item[0] == "var" else item[1]
            for item in items if item[0] != "agg"]
            + q.having + [e for e, _ in q.order_by]))
        df = df.select(*[c for c in df.columns
                         if c not in q.group_by or c in reads])
    for h in q.having:
        df = df.where(F.expr(h))
    if q.post_values is not None:
        # the trailing ValuesClause: an empty table admits no solution,
        # an UNDEF cell leaves a new variable unbound
        before = set(df.columns)
        df = (_values_join(df, q.post_values, nullable) if q.post_values
              else df.where(F.lit(False)))
        nullable |= {v for row in q.post_values for v, val in row.items()
                     if val is None and v not in before}
    if q.select_star:
        # SELECT * projects only named variables — blank-node-label
        # variables and {var}__kind/__lang/__datatype term-metadata
        # columns drop out (distinct solutions may collapse once they
        # go)
        proj = [c for c in df.columns
                if not c.startswith(_BNODE_VAR_PREFIX)
                and not c.endswith(_META_SUFFIXES)]
        dedup = len(proj) < len(df.columns)
    else:
        proj = [F.expr(item[1]).alias(item[2]) if item[0] == "expr"
                else F.col(item[-1]) for item in items]
        # conservative: an expression may evaluate to null even over
        # bound inputs
        nullable |= {item[2] for item in items if item[0] == "expr"}
        dedup = q.distinct is not False
    df = df.select(*proj)
    # set-semantics solutions collapse only under a projection that
    # drops variables; grouped rows are distinct per key and bag
    # semantics keep duplicates, so there only an explicit DISTINCT
    # deduplicates, after Project (§18.2.5)
    if q.distinct if grouped or not distinct_solutions else dedup:
        df = df.distinct()
    if q.order_by:
        df = df.orderBy(*[F.expr(e).desc() if d else F.expr(e).asc()
                          for e, d in q.order_by])
    if q.offset is not None:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df, nullable & set(df.columns), scalar


def sparql_query(triples: DataFrame, query: str,
                 s_col: str = "subj", p_col: str = "pred",
                 o_col: str = "obj_value", g_col: str = "graph",
                 distinct_solutions: bool = True) -> DataFrame | bool:
    """Parse SPARQL query text and run it over the triples frame.

    SELECT / CONSTRUCT / DESCRIBE return a DataFrame (one column per
    projected variable); ASK returns a bool (same contract as
    ``kg.ask``). See the module docstring for the supported subset.
    Every form reads the WHERE solutions from ``_solutions`` (the one
    evaluator, ``kg._compile``) through one path, then adds only its
    own operators: SELECT's solution modifiers, ASK's ``limit(1)``
    probe, CONSTRUCT's template projections (once, over a whole-group
    UNION too), DESCRIBE's ``describe_nodes`` call (a filtered scan for
    ``DESCRIBE <iri> ...``, semi-joins for ``DESCRIBE ?var``).
    """
    from pyspark.errors import AnalysisException
    try:
        return _sparql_dispatch(triples, query, s_col, p_col, o_col,
                                g_col, distinct_solutions)
    except AnalysisException as exc:
        klass = ""
        try:
            klass = exc.getCondition() or ""
        except Exception:
            pass
        if not klass:
            try:
                klass = exc.getErrorClass() or ""
            except Exception:
                pass
        if "UNRESOLVED_COLUMN" in klass:
            # a query referencing a variable that is never bound in
            # scope (SELECT projection, FILTER, BIND, negation body):
            # SPARQL evaluates an unbound-variable expression as a
            # type error per solution (often yielding an empty
            # result); this engine raises a CLEAR error instead of
            # silently returning nothing — same contract as every
            # other out-of-subset construct. Documented deviation.
            raise SparqlUnsupportedError(
                "the query references a variable that is never bound "
                "in its scope (see the unresolved column below) — "
                "SPARQL would treat it as a per-solution type error; "
                "this engine refuses, typed, rather than silently "
                f"returning an empty/null result: {exc}"
            ) from exc
        raise


def _sparql_dispatch(triples: DataFrame, query: str,
                     s_col: str, p_col: str, o_col: str, g_col: str,
                     distinct_solutions: bool) -> DataFrame | bool:
    parser = _Parser(query)
    q = parser.parse()
    meta_vars = frozenset(parser.meta_vars)
    cols = dict(s_col=s_col, p_col=p_col, o_col=o_col, g_col=g_col)
    if q.from_graphs or q.from_named:
        triples = _apply_dataset_clause(triples, q, g_col)
    # the group compiler reads the triples once per pattern, and
    # DESCRIBE ?var twice more
    if sum(1 for _ in _query_patterns(q)) + 2 * bool(q.describe_var) > 1:
        triples = reuse(triples)
    g = q.where
    if q.form == "select":
        return _compile_select(triples, q, cols, distinct_solutions,
                               meta_vars=meta_vars)[0]
    if q.form == "ask":
        # existence needs no dedup; limit(1) stops at the first row
        return bool(_solutions(triples, g, cols, False,
                               meta_vars)[0].limit(1).take(1))
    if q.form == "construct":
        _refuse_constant(g)
        # Blank-node labels in the template (SPARQL §16.2) are minted
        # as a fresh deterministic node per solution; template labels
        # are scoped to the template (§19.6), so one that also appears
        # in the WHERE clause shadows that variable
        mint = {term[1:] for tri in q.template for term in tri
                if term.startswith("?" + _BNODE_VAR_PREFIX)}
        # over a whole-group UNION a solution binds only its branch's
        # variables and a template triple with an unbound term is
        # skipped: a template no branch binds completely would
        # construct an empty graph
        if g.union_branches and not any(
                all(not term.startswith("?") or term[1:] in bvars
                    for term in tri)
                for b in g.union_branches
                for bvars in [_pattern_tuple_vars(b.patterns) | mint]
                for tri in q.template):
            raise SparqlSyntaxError(
                "CONSTRUCT over UNION: no template triple is fully "
                "bound by any branch")
        sol, _ = _solutions(triples, g, cols, distinct_solutions,
                            meta_vars)
        return _template_rows(sol, q.template, mint)
    # DESCRIBE: its IRIs, or the nodes the solutions bind to ?var
    nodes = q.describe_nodes
    if q.describe_var is not None:
        _refuse_constant(g)
        sol, _ = _solutions(triples, g, cols, distinct_solutions,
                            meta_vars)
        if q.describe_var not in sol.columns:
            raise SparqlSyntaxError(
                f"DESCRIBE ?{q.describe_var}: variable is not "
                "bound by the WHERE clause")
        nodes = sol.select(q.describe_var).where(
            F.col(q.describe_var).isNotNull())
    return describe_nodes(triples, nodes,
                          node_col=q.describe_var or "node",
                          s_col=s_col, p_col=p_col, o_col=o_col)
