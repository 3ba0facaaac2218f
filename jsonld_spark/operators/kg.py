"""Knowledge-graph query and inference over the triples DataFrame.

The reference (jsonld-java) stops at producing/consuming RDF; a KG
engine also has to QUERY it (SPARQL-style basic graph patterns) and
ENTAIL over it (RDFS subclass/subproperty/domain/range). Both are
re-expressed Spark-first here:

* ``bgp_match`` — a conjunctive triple-pattern query is nothing but a
  chain of equi-joins over filtered scans of the triples table, which
  is exactly what Catalyst optimizes best: constant terms become
  pushed-down parquet filters (partition pruning when the table is
  partitioned by predicate, the standard warehouse layout), join order
  and broadcast-vs-shuffle are AQE's call per pattern selectivity.
  A SPARQL group graph pattern is one node, ``Group``, which both
  front ends build: the SPARQL text parser directly, ``bgp_match`` /
  ``bgp_union`` / ``construct`` from their entry forms through one
  normaliser (``_as_group``). One evaluator, ``_compile``, turns it
  into solutions: the pattern-join loop with its constant gates,
  solution joins (subqueries, and UNION blocks beside other members),
  OPTIONAL, VALUES, BIND, [NOT] EXISTS, MINUS and FILTER. A UNION is a
  list of branch Groups wherever it appears, evaluated by ``_union``.
  Every nested body (OPTIONAL / [NOT] EXISTS / MINUS / expression-
  EXISTS) is compiled by the same code, then joined by one of three
  joins: the null-mask compatibility join (left / semi / anti / minus,
  with correlated filters as its residual), the marker join (EXISTS
  as a value), or the VALUES join.
* ``rdfs_closure`` — the ontology (schema) is corpus-INDEPENDENT and
  small (10^3-10^5 rows for real ontologies), so its transitive
  closure is computed once driver-side and applied to the 100 TB fact
  table as broadcast-join expansions: one pass, no fixpoint over the
  data. The classic trap — iterating rdfs9 over the full triple table
  — is avoided by closing the schema first (closure(schema) applied
  once is equivalent to the RDFS fixpoint for these rules).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame, reuse

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@dataclass(eq=False)
class Group:
    """One SPARQL group graph pattern: the node both front ends build
    and ``_compile`` evaluates. The SPARQL text parser builds it
    directly; ``bgp_match``, ``bgp_union`` and ``construct`` build it
    from their entry forms through ``_as_group``.

    A UNION is a list of branch Groups (patterns plus branch-scoped
    filters) wherever it appears. When one UNION is a group's only
    binding member (FILTERs and BINDs may follow) it seeds the group's
    solutions; any other UNION block joins them like a subquery.
    ``subqueries`` holds the text front end's subquery ASTs, which it
    compiles into ``solution_joins`` before evaluation. A Group equals
    any entry form that normalises to it."""
    patterns: list[tuple] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)
    optional: list[Group] = field(default_factory=list)
    not_exists: list[Group] = field(default_factory=list)
    exists: list[Group] = field(default_factory=list)
    minus: list[Group] = field(default_factory=list)
    values: list[dict] = field(default_factory=list)
    binds: list[tuple[str, str]] = field(default_factory=list)
    # FILTERs whose expression embeds [NOT] EXISTS: {'expr': sql,
    # 'markers': [(column, Group, negated), ...]}
    filter_exists: list[dict] = field(default_factory=list)
    unions: list[list[Group]] = field(default_factory=list)
    # {'df': DataFrame, 'nullable': set, 'allow_disjoint': bool}
    solution_joins: list[dict] = field(default_factory=list)
    subqueries: list = field(default_factory=list)

    def __eq__(self, other) -> bool:
        if not isinstance(other, Group):
            try:
                other = _as_group(other, "comparison")
            except (TypeError, ValueError, KeyError, IndexError):
                return NotImplemented
        return all(getattr(self, f.name) == getattr(other, f.name)
                   for f in fields(self))

    def seed_union(self) -> list[Group] | None:
        """The branches when one UNION is the group's only binding
        member (FILTERs and BINDs may follow), else None."""
        rest = (self.patterns, self.optional, self.not_exists,
                self.exists, self.minus, self.values, self.filter_exists,
                self.solution_joins, self.subqueries)
        return self.unions[0] if len(self.unions) == 1 \
            and not any(rest) else None

    @property
    def union_branches(self) -> list[Group] | None:
        """The branches when the group is one UNION and nothing else."""
        return None if self.filters or self.binds else self.seed_union()

    @property
    def union_branch_filters(self) -> list[list[str]] | None:
        branches = self.union_branches
        return None if branches is None else [b.filters for b in branches]

    @property
    def inline_unions(self) -> list[list[Group]]:
        """UNION blocks mixed with other group members."""
        return [] if self.union_branches is not None else self.unions

    def vars(self) -> set[str]:
        """Every variable the group can bind: its patterns, UNION
        branches, nested OPTIONALs, BINDs, VALUES and solution joins.
        [NOT] EXISTS / MINUS bodies bind nothing outward."""
        vs = _pattern_tuple_vars(self.patterns)
        for grp in [b for block in self.unions for b in block] \
                + self.optional:
            vs |= grp.vars()
        vs |= {v for v, _ in self.binds}
        vs |= {v for row in self.values for v in row}
        for sj in self.solution_joins:
            vs |= set(sj["df"].columns)
        return vs

    def nullable(self) -> set[str]:
        """Variables the group may leave unbound: not bound by every
        branch of a UNION, or bound outside the required patterns only
        by an OPTIONAL, an UNDEF-able VALUES cell or a BIND (other than
        a rename of a required variable)."""
        req = _pattern_tuple_vars(self.patterns)
        nul: set[str] = set()
        for block in self.unions:
            per = [b.vars() for b in block]
            nul |= set.union(*per) - set.intersection(*per)
        for grp in self.optional:
            nul |= grp.vars()
        for v, expr in self.binds:
            m = re.fullmatch(r"`(\w+)`", expr.strip())
            if m is None or m.group(1) not in req:
                nul.add(v)
        nul |= {v for row in self.values for v, val in row.items()
                if val is None}
        return nul - req

    def refs(self) -> set[str]:
        """Every variable the group binds or reads: ``vars()`` plus
        the identifiers of its filters, branch filters and BIND
        expressions, through nested [NOT] EXISTS / MINUS bodies."""
        vs = self.vars()
        for expr in self.filters + [e for _, e in self.binds] + [
                f for block in self.unions for b in block
                for f in b.filters]:
            vs |= _expr_identifiers(expr)
        for grp in self.not_exists + self.exists + self.minus:
            vs |= grp.refs()
        return vs

    def walk(self):
        """This group and every group nested in it."""
        yield self
        for grp in (self.optional + self.not_exists + self.exists
                    + self.minus
                    + [b for block in self.unions for b in block]
                    + [m[1] for fe in self.filter_exists
                       for m in fe["markers"]]):
            yield from grp.walk()


# every key a dict entry may carry, and the subset a union entry may;
# anything else raises, so a key the evaluator does not know (e.g. an
# un-compiled 'subqueries' AST list) fails loudly instead of being
# silently ignored
_ENTRY_KEYS = frozenset((
    "patterns", "filters", "union", "branch_filters", "binds",
    "optional", "not_exists", "exists", "minus", "values",
    "solution_joins"))
_UNION_ENTRY_KEYS = frozenset(
    ("union", "filters", "branch_filters", "binds"))


def _as_group(entry, where: str) -> Group:
    """The one normaliser from the Python entry forms ``bgp_match``
    documents — a pattern tuple, a pattern list, a body dict or a union
    dict — to a Group."""
    if isinstance(entry, Group):
        return entry
    if not isinstance(entry, dict):
        return Group(patterns=list(entry if not entry or isinstance(
            entry[0], (list, tuple)) else [entry]))
    unknown = sorted(set(entry) - _ENTRY_KEYS)
    if unknown:
        raise ValueError(
            f"{where}: unknown group-entry key(s) {unknown} — "
            f"supported keys are {sorted(_ENTRY_KEYS)}; an un-compiled "
            "'subqueries' AST list must be compiled into "
            "'solution_joins' first (the SPARQL front-end does "
            "this; direct callers pass solution-join dicts)")
    if "union" in entry and set(entry) - _UNION_ENTRY_KEYS:
        raise ValueError(
            f"{where}: a 'union' entry cannot also carry "
            f"{sorted(set(entry) - _UNION_ENTRY_KEYS)} — a union body "
            f"takes only {sorted(_UNION_ENTRY_KEYS)}; wrap the union in "
            "its own group or lift the other members")
    if "branch_filters" in entry:
        nb = len(entry.get("union") or [])
        if len(entry["branch_filters"]) != nb:
            raise ValueError(
                f"{where}: branch_filters has "
                f"{len(entry['branch_filters'])} entries for "
                f"{nb} union branches — they must parallel")
    if "union" in entry:
        bfs = entry.get("branch_filters") or [[] for _ in entry["union"]]
        return Group(
            unions=[[Group(patterns=list(b), filters=list(fl or []))
                     for b, fl in zip(entry["union"], bfs)]],
            filters=list(entry.get("filters") or []),
            binds=list(entry.get("binds") or []))
    if "patterns" not in entry:
        raise ValueError(
            f"{where}: a group-entry dict needs a 'patterns' key "
            "(an empty list is legal when solution_joins seed "
            "the group)")
    return Group(
        patterns=list(entry["patterns"] or []),
        filters=list(entry.get("filters") or []),
        values=list(entry.get("values") or []),
        binds=list(entry.get("binds") or []),
        solution_joins=[{"df": e} if isinstance(e, DataFrame) else e
                        for e in entry.get("solution_joins") or []],
        **{k: [_as_group(e, f"{k} group {i}")
               for i, e in enumerate(entry.get(k) or [])]
           for k in ("optional", "not_exists", "exists", "minus")})


RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SUB_CLASS = RDFS + "subClassOf"
SUB_PROP = RDFS + "subPropertyOf"
DOMAIN = RDFS + "domain"
RANGE = RDFS + "range"


#: suffixes of the per-variable term-metadata columns bgp_match emits
#: when ``meta_vars`` requests them (e.g. ``x__kind``, ``x__lang``)
META_SUFFIXES = ("__kind", "__lang", "__datatype")


def _meta_exprs(var: str, position: str, meta_cols: dict | None):
    """Term-metadata columns for a variable binding: RDF node kind /
    language tag / datatype IRI (the inputs of SPARQL's LANG() /
    DATATYPE() / isIRI() / isLiteral() / isBlank()). Object-position
    bindings read the frame's kind/lang/datatype columns; subject and
    graph bindings derive kind from the ``_:`` prefix (never
    literals); predicate bindings are always IRIs."""
    if position == "object":
        if meta_cols is None:
            raise ValueError(
                f"?{var}: LANG()/DATATYPE()/isIRI() need the "
                "obj_kind/obj_lang/obj_datatype columns — this triples "
                "frame has no term-metadata columns")
        return [F.col(meta_cols["kind"]).alias(f"{var}__kind"),
                F.col(meta_cols["lang"]).alias(f"{var}__lang"),
                F.col(meta_cols["datatype"]).alias(f"{var}__datatype")]
    if position == "predicate":
        kind = F.lit("iri")
    else:   # position = a node column name (subject/graph/src/dst)
        kind = F.when(F.col(position).startswith("_:"),
                      F.lit("bnode")).otherwise(F.lit("iri"))
    return [kind.alias(f"{var}__kind"),
            F.lit(None).cast("string").alias(f"{var}__lang"),
            F.lit(None).cast("string").alias(f"{var}__datatype")]


def _apply_terms(step: DataFrame, terms: tuple, cols: tuple,
                 i: int, meta_vars: frozenset = frozenset(),
                 meta_cols: dict | None = None,
                 o_col: str | None = None, p_col: str | None = None
                 ) -> tuple[DataFrame, list[str]]:
    """Apply pattern terms to the matching columns: constants become
    equality filters (pushed to the scan), variables rename columns,
    a variable repeated within one pattern becomes an equality
    constraint binding once (SPARQL semantics). Variables in
    ``meta_vars`` additionally bind ``{var}__kind/__lang/__datatype``
    term-metadata columns."""
    rename: dict[str, str] = {}
    for term, col in zip(terms, cols):
        if term.startswith("?"):
            var = term[1:]
            if not var:
                raise ValueError(f"pattern {i}: bare '?' term")
            if var in rename.values():
                # same var twice in one pattern: equality filter
                prev = next(c for c, v in rename.items() if v == var)
                step = step.where(F.col(col) == F.col(prev))
            else:
                rename[col] = var
        else:
            step = step.where(F.col(col) == term)
    sel = [F.col(c).alias(v) for c, v in rename.items()]
    out_vars = list(rename.values())
    for c, v in rename.items():
        if v in meta_vars:
            if c == o_col:
                sel += _meta_exprs(v, "object", meta_cols)
            elif c == p_col:
                sel += _meta_exprs(v, "predicate", meta_cols)
            else:
                sel += _meta_exprs(v, c, meta_cols)
    return step.select(*sel), out_vars


def _pattern_step(triples: DataFrame, pat: tuple, i: int,
                  pos_cols: tuple,
                  meta_vars: frozenset = frozenset(),
                  meta_cols: dict | None = None
                  ) -> tuple[DataFrame, list[str]]:
    """One triple/quad pattern → (filtered projection, its variable
    names). A 3-tuple is (s, p, o); a 4-tuple is (s, p, o, g) — the
    SPARQL GRAPH clause — matched against the graph column (constant
    graph names push down to the scan / prune graph-partitioned
    layouts; a variable binds the graph name per row).

    A predicate term containing ``<`` is a PROPERTY-PATH expression
    (angle-bracketed IRIs with ``+ * ? / | ^`` and parens — see
    ``kg_path``): the pattern matches the path's (src, dst) relation
    instead of a single scan. Plain IRIs and variables never contain
    ``<``, so the syntaxes cannot collide. A path pattern may carry a
    CONSTANT graph term (the closure runs over that graph's edges
    only) or a VARIABLE graph term (the closure runs per-graph over
    every named graph in one job — ``kg_path(g_col=...)``)."""
    if len(pat) not in (3, 4):
        raise ValueError(f"pattern {i} must be (s, p, o) or "
                         f"(s, p, o, g), got {pat!r}")
    if not pat[1].startswith("?") and "<" in pat[1]:
        # the path SOURCE is always a subject (IRI/bnode — kind
        # derivable from the _: prefix), but the DESTINATION
        # carries object values whose kind/lang/datatype the
        # closure does not track — a literal would silently
        # classify as 'iri', so metadata there must raise
        if pat[2].startswith("?") and pat[2][1:] in meta_vars:
            raise ValueError(
                f"pattern {i}: LANG()/DATATYPE()/isIRI() on a "
                "property-path destination is not supported — the "
                "closure does not track term metadata; bind the "
                "variable in a plain triple pattern")
        if len(pat) == 3 or not pat[3].startswith("?"):
            scope = triples if len(pat) == 3 else \
                triples.where(F.col(pos_cols[3]) == pat[3])
            # a CONSTANT graph term scopes the path: close over that
            # graph's edges only (the filter pushes to the scan)
            rel = kg_path(scope, pat[1], s_col=pos_cols[0],
                          p_col=pos_cols[1], o_col=pos_cols[2])
            return _apply_terms(rel, (pat[0], pat[2]), ("src", "dst"),
                                i, meta_vars=meta_vars)
        # VARIABLE graph term: one per-graph closure over ALL graphs
        # at once — the graph column rides the doubling/sequence join
        # keys inside kg_path, so this is a single distributed job,
        # not one closure per graph
        rel = kg_path(triples, pat[1], s_col=pos_cols[0],
                      p_col=pos_cols[1], o_col=pos_cols[2],
                      g_col=pos_cols[3])
        return _apply_terms(rel, (pat[0], pat[2], pat[3]),
                            ("src", "dst", "g"), i, meta_vars=meta_vars)
    return _apply_terms(triples, pat, pos_cols[:len(pat)], i,
                        meta_vars=meta_vars, meta_cols=meta_cols,
                        o_col=pos_cols[2], p_col=pos_cols[1])


_SQL_WORDS = frozenset("""
    and or not in is null true false like rlike regexp between case
    when then else end distinct as cast interval current_date
    current_timestamp int integer bigint smallint tinyint long double
    float decimal string boolean date timestamp binary array map
    struct varchar char
""".split())


def _pattern_tuple_vars(pats) -> set[str]:
    """Variable names (without '?') across a list of pattern tuples."""
    return {t[1:] for p in pats for t in p
            if isinstance(t, str) and t.startswith("?")}


# a single- or double-quoted SQL string literal: splitting an
# expression on it leaves the code at the even indexes
_LITERAL_RE = re.compile(r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")")


def _expr_identifiers(expr: str) -> set[str]:
    """Candidate column identifiers in a SQL expression string:
    backticked names plus bare names not followed by ``(`` (function
    calls), ignoring single- AND double-quoted literals (Spark SQL
    treats double quotes as strings by default), ``AS <type>`` cast
    targets, and common SQL keywords/type names (a variable that
    happens to share a keyword's name would otherwise misclassify a
    filter — and a silently-misclassified filter mis-executes). Used
    to classify a group filter as correlated (references an outer
    variable) WITHOUT triggering a Spark analysis failure, which
    would log a spurious ERROR for the expected path. A backticked
    name is always taken verbatim — callers quoting `date` as a
    variable get the right answer."""
    ids: set[str] = set()
    for s in _LITERAL_RE.split(expr)[0::2]:
        ids |= set(re.findall(r"`([^`]+)`", s))
        s = re.sub(r"`[^`]*`", " ", s)
        s = re.sub(r"(?i)\bas\s+\w+(\s*\(\s*\d+[\d\s,]*\))?", " ", s)
        ids |= {w for m in re.finditer(
                    r"\b([A-Za-z_]\w*)\b(?!\s*\()", s)
                if (w := m.group(1)).lower() not in _SQL_WORDS}
    return ids


def _rewrite_refs(expr: str, mapping: dict[str, str]) -> str:
    """Rename variable references in a SQL expression string — both
    backtick-quoted and bare occurrences — without touching single-
    or double-quoted string literals. Used to point a correlated group
    filter's group-variable references at the join's renamed right
    side."""
    parts = _LITERAL_RE.split(expr)
    for j in range(0, len(parts), 2):
        s = parts[j]
        for old, new in mapping.items():
            s = s.replace(f"`{old}`", f"`{new}`")
            s = re.sub(rf"(?<![\w`]){re.escape(old)}(?![\w`])", new, s)
        parts[j] = s
    return "".join(parts)


def _null_refs(expr: str, names: set[str]) -> str:
    """Replace variable references with SQL ``NULL`` — backticked and
    bare occurrences, leaving string literals alone. Used to evaluate
    a MINUS group filter whose outer-shared variables are UNBOUND
    inside the group (SPARQL §8.3.3 — MINUS does not substitute):
    SQL's 3-valued logic then mirrors SPARQL's error algebra
    (``error || true = true``, ``error && x`` never true,
    ``COALESCE`` skips the error, ``BOUND`` is false), so
    error-absorbing expressions keep their non-erroring branches."""
    parts = _LITERAL_RE.split(expr)
    for j in range(0, len(parts), 2):
        s = parts[j]
        for n in names:
            s = s.replace(f"`{n}`", "NULL")
            # skip function-call position: a bare identifier followed
            # by '(' is a SQL function whose name happens to equal the
            # variable (e.g. outer var ?abs vs abs(...)) — backticked
            # references already disambiguate the variable case
            s = re.sub(
                rf"(?<![\w`]){re.escape(n)}(?![\w`])(?!\s*\()",
                "NULL", s)
        parts[j] = s
    return "".join(parts)


def _null_masks(nullable_shared: list[str], where: str) -> list[frozenset]:
    """All null-masks of the nullable shared variables — the branch set
    for SPARQL's unbound-is-compatible joins. Each branch is an
    equi-join on the non-null keys, so the plan stays hash/broadcast
    joinable; 2^k branches is a plan explosion, so k > 4 raises."""
    if len(nullable_shared) > 4:
        raise ValueError(
            f"{where}: {len(nullable_shared)} shared variables are "
            "nullable (optional/UNDEF/BIND-introduced) — 2^k "
            "unbound-compatibility branches would explode the plan; "
            f"bind {nullable_shared} in a required pattern or split "
            "the query")
    masks: list[frozenset] = [frozenset()]
    for v in nullable_shared:
        masks += [m | {v} for m in masks]
    return masks


def _mask_filter(mask: frozenset, nullable_shared: list[str]) -> Column:
    cond = F.lit(True)
    for v in nullable_shared:
        cond = cond & (F.col(v).isNull() if v in mask
                       else F.col(v).isNotNull())
    return cond


def bgp_match(triples: DataFrame, patterns: list[tuple[str, str, str]],
              optional: list[tuple[str, str, str]] | None = None,
              not_exists: list[list[tuple[str, str, str]]] | None = None,
              exists: list[list[tuple[str, str, str]]] | None = None,
              minus: list[list[tuple[str, str, str]]] | None = None,
              filters: list[str] | None = None,
              values: list[dict[str, str | None]] | None = None,
              binds: list[tuple[str, str]] | None = None,
              s_col: str = "subj", p_col: str = "pred",
              o_col: str = "obj_value", g_col: str = "graph",
              distinct_solutions: bool = True,
              solution_joins: list | None = None,
              meta_vars: set | None = None,
              filter_exists: list[dict] | None = None) -> DataFrame:
    """Match a SPARQL group graph pattern over the triples frame.
    Returns one column per variable (first-appearance order), one row
    per solution. This is the Python front end of ``Group``: the
    arguments are a group's members, normalised by ``_as_group`` and
    evaluated by ``_compile`` exactly as a parsed SPARQL group is.

    ``patterns`` — (subject, predicate, object) terms; a term starting
    with ``?`` is a variable, anything else a constant. A 4-tuple
    (s, p, o, g) also matches ``g_col`` (the GRAPH clause; graph-less
    frames work with 3-tuples). A predicate containing ``<`` is a
    property-path expression (see ``kg_path``). Patterns must connect
    through shared variables — a cartesian product raises — except an
    all-constant pattern, which is an existence gate binding nothing.
    ``patterns`` may be empty when ``solution_joins`` seed the
    solutions.

    Group entries. ``optional``, ``not_exists``, ``exists`` and
    ``minus`` take lists of group entries, each one of:

    * a ``Group``;
    * a pattern tuple, or a list of pattern tuples (a group evaluated
      as a unit: its patterns inner-join, then the group joins);
    * a body dict ``{'patterns': [...], 'filters': [...], 'binds':
      [...], 'optional': [...], 'not_exists': [...], 'exists': [...],
      'minus': [...], 'values': [...], 'solution_joins': [...]}`` —
      the same parameters as this function, nesting to any depth
      (only ``'patterns'`` is required);
    * a union dict ``{'union': [branch, ...], 'branch_filters':
      [...], 'filters': [...], 'binds': [...]}`` — ``{ A } UNION
      { B }`` as the body.

    Any other key raises. A group filter referencing only group
    variables filters the group's solutions; one referencing OUTER
    variables is correlated (SPARQL substitution for [NOT] EXISTS,
    LeftJoin's expression for OPTIONAL) and becomes the join's
    residual condition. Nested members (BINDs, negations, inner
    OPTIONAL filters) may not reference outer variables.

    * ``optional`` — SPARQL OPTIONAL: each entry left-joins on its
      shared variables; a solution without a match keeps its new
      variables null. A shared variable an earlier OPTIONAL left
      unbound is compatible with any binding (SPARQL's unbound-
      compatibility rule). An entry binding no variable is a no-op.
      A shared variable the group itself may leave unbound (not bound
      by every UNION branch, only by an inner OPTIONAL or a BIND)
      raises.
    * ``not_exists`` / ``exists`` — FILTER [NOT] EXISTS: drop / keep a
      solution iff the group matches under its bindings. The group must
      share a variable with the outer solutions. A shared variable the
      solution left unbound stays free inside the group.
    * ``minus`` — SPARQL MINUS (§8.3.3): like NOT EXISTS, but a group
      sharing no variable removes nothing, an unbound shared variable is
      compatible with anything, and a correlated group filter sees the
      outer variables as unbound.
    * ``values`` — a VALUES block: rows of ``{var: constant}``
      (``None`` = UNDEF). Shared variables constrain, new ones extend.
    * ``binds`` — ordered ``[(var, spark_sql_expr)]`` BIND clauses,
      applied after VALUES; rebinding an in-scope variable raises.
    * ``solution_joins`` — pre-computed solution sets (subqueries):
      DataFrames whose columns are variables, or dicts ``{'df':
      DataFrame, 'nullable': set, 'allow_disjoint': bool}``, joined on
      the shared variables right after the patterns. A disjoint entry
      needs ``allow_disjoint`` (it broadcasts); nullable shared
      variables raise.
    * ``filters`` — FILTER expressions as Spark SQL boolean strings
      over the variable names, applied last. A comparison against an
      unbound (null) variable drops the row, like SPARQL's error rule.
    * ``filter_exists`` — FILTERs whose expression embeds [NOT] EXISTS:
      ``{'expr': sql, 'markers': [(name, group_entry, negated), ...]}``
      where ``expr`` reads each ``name`` as a boolean column.
    * ``meta_vars`` — variables whose term metadata
      (``{var}__kind`` / ``__lang`` / ``__datatype``) the first pattern
      binding them emits, for LANG() / DATATYPE() / isIRI() in filters
      and binds; the columns stay in the output and make solution
      distinctness RDF term identity.
    * ``distinct_solutions`` — deduplicate the required bindings
      (SELECT DISTINCT, the default); ``False`` keeps bag semantics
      for pre-deduplicated warehouse tables.

    More than 4 nullable shared variables in one join raise (2^k
    null-mask branches).

    DEVIATION — lexical join identity: patterns join on the VALUE
    columns, so a literal whose lexical form equals an IRI unifies with
    that IRI. Add a kind filter (``x__kind = 'iri'`` with
    ``meta_vars``) where that matters.
    """
    g = _as_group({"patterns": patterns, "optional": optional,
                   "not_exists": not_exists, "exists": exists,
                   "minus": minus, "filters": filters, "values": values,
                   "binds": binds, "solution_joins": solution_joins},
                  "query")
    g.filter_exists = [
        {"expr": fe["expr"],
         "markers": [(name, _as_group(e, f"EXISTS marker {name}"), neg)
                     for name, e, neg in fe["markers"]]}
        for fe in filter_exists or []]
    _refuse_constant(g)
    return _match(triples, g, (s_col, p_col, o_col, g_col), meta_vars,
                  distinct_solutions)


def _match(triples: DataFrame, g: Group, pos_cols: tuple,
           meta_vars: set | None, distinct: bool) -> DataFrame:
    """A query's group → its solutions: ``bgp_match`` and ``ask``."""
    if sum(map(len, (g.patterns, g.optional, g.not_exists, g.exists,
                     g.minus, g.filter_exists))) > 1:
        # each pattern and group entry reads the triples once
        triples = reuse(triples)
    return _compile(triples, g, pos_cols, set(), "query",
                    set(meta_vars or ()), top=True, distinct=distinct)[0]


def _refuse_constant(g: Group) -> None:
    """The forms that return solutions need a variable: refuse a query
    group whose patterns are all constant and that joins nothing else.
    ASK alone answers such a group (its constant patterns are existence
    gates). ``_union`` refuses such a branch of every UNION block it
    evaluates, in every form."""
    if g.patterns and not (g.unions or g.solution_joins or g.subqueries
                           or _pattern_tuple_vars(g.patterns)):
        raise ValueError(
            "all patterns are constant — use ask() for a pure "
            "existence test; bgp_match needs at least one variable")


def _join_patterns(triples: DataFrame, patterns: list, pos_cols: tuple,
                   where: str, meta: set):
    """The pattern loop every group shares: each pattern is a filtered
    scan equi-joined to the earlier ones on their shared variables. An
    all-constant pattern binds nothing and becomes an existence gate:
    a ``limit(1)`` probe the caller cross-joins in. The first pattern
    binding a variable in ``meta`` emits its term-metadata columns and
    removes it from ``meta``. Returns (solutions or None, variables,
    metadata columns, gates)."""
    mc = {"kind": "obj_kind", "lang": "obj_lang",
          "datatype": "obj_datatype"}
    meta_cols = mc if all(c in triples.columns
                          for c in mc.values()) else None
    out: DataFrame | None = None
    bound: list[str] = []
    mcols: list[str] = []
    gates: list[DataFrame] = []
    for i, pat in enumerate(patterns):
        step, step_vars = _pattern_step(
            triples, pat, i, pos_cols,
            meta_vars=frozenset(meta), meta_cols=meta_cols)
        if not step_vars:
            gates.append(step.limit(1).select(F.lit(1).alias(f"_g{i}")))
            continue
        served = [v for v in step_vars if v in meta]
        meta.difference_update(served)
        mcols += [f"{v}{s}" for v in served for s in META_SUFFIXES]
        if out is None:
            out, bound = step, list(step_vars)
            continue
        shared = [v for v in step_vars if v in bound]
        if not shared:
            raise ValueError(
                f"{where}: pattern {i} shares no variable with earlier "
                "patterns — a cartesian product; reorder or constrain "
                "the query")
        out = out.join(step, shared)
        bound += [v for v in step_vars if v not in bound]
    return out, bound, mcols, gates


def _compile(triples: DataFrame, g: Group, pos_cols: tuple,
             outer: set, where: str, meta: set, top: bool = False,
             distinct: bool = False):
    """Evaluate one Group to (solutions, variables, nullable variables,
    metadata columns, correlated filters). This is the only evaluator:
    the same code compiles a query's group (``top``), every UNION
    branch and, through ``_nested``, every OPTIONAL / [NOT] EXISTS /
    MINUS / expression-EXISTS body. ``outer`` holds the enclosing
    solutions' variables: a filter referencing one is correlated and
    returned unapplied. ``meta`` holds the pending term-metadata
    requests; patterns serving one remove it."""
    nullable: set[str] = set()
    gates: list[DataFrame] = []
    seed = g.seed_union()
    settle = seed is None and (top or any((
        g.optional, g.not_exists, g.exists, g.minus, g.values,
        g.solution_joins, g.unions)))
    if seed is not None:
        out, bound, mcols, nullable = _union(triples, seed, pos_cols,
                                             distinct, meta)
    else:
        # a UNION beside other members joins like a subquery:
        # Join(Union(A, B), rest of the group)
        sjoins = list(g.solution_joins)
        for block in g.unions:
            udf, _, _, unul = _union(triples, block, pos_cols, True, set())
            sjoins.append({"df": udf, "nullable": unul})
        if not g.patterns and not sjoins:
            raise ValueError(f"{where}: empty pattern list")
        out, bound, mcols, gates = _join_patterns(
            triples, g.patterns, pos_cols, where, meta)
        if out is not None and settle:
            # required bindings are set-distinct BEFORE optionals, so
            # duplicate input triples cannot multiply optional matches
            out = out.select(*bound, *mcols)
            if distinct:
                out = out.distinct()
        for si, sj in enumerate(sjoins):
            sdf, snul = sj["df"], set(sj.get("nullable") or ())
            svars = list(sdf.columns)
            if out is None:
                out, bound = sdf, svars
                nullable |= snul
                continue
            shared = [v for v in svars if v in bound]
            new = [v for v in svars if v not in bound]
            bad = [v for v in shared if v in nullable or v in snul]
            if bad:
                raise ValueError(
                    f"solution join {si}: shared variables {bad} may be "
                    "unbound (null) — joining a subquery on a nullable "
                    "variable is not supported; bind it in a required "
                    "pattern")
            if shared:
                out = out.join(sdf, shared)
            elif sj.get("allow_disjoint"):
                # scalar-subquery idiom (e.g. SELECT (MAX(?d) AS ?m)):
                # exactly-one-row side, broadcast to every solution
                out = out.crossJoin(F.broadcast(sdf))
            else:
                raise ValueError(
                    f"solution join {si} shares no variable with the "
                    "outer query — a cartesian product; pass "
                    "allow_disjoint=True only for provably tiny sides")
            bound += new
            nullable |= {v for v in new if v in snul}
        if out is None:
            # every pattern constant: the gates' cross product binds
            # nothing — ASK answers it, the other forms and every UNION
            # branch refuse it first (_refuse_constant)
            out, gates = gates[0], gates[1:]
            for gate in gates:
                out = out.crossJoin(gate)
            gates = []
    for gate in gates:
        out = out.crossJoin(gate).drop(gate.columns[0])

    for i, entry in enumerate(g.optional):
        w = f"optional group {i}"
        if not entry.vars():
            # LeftJoin(Ω, {μ0}) = LeftJoin(Ω, ∅) = Ω
            continue
        step, gvars, gnull, gmeta, corr = _nested(
            triples, entry, pos_cols, set(bound), w, meta)
        shared = [v for v in gvars if v in bound]
        if not shared:
            raise ValueError(
                f"{w} shares no variable with the required patterns — "
                "a cartesian product")
        bad = sorted(set(shared) & gnull)
        if bad:
            raise ValueError(
                f"{w}: shared variable(s) {bad} are not bound by every "
                "UNION branch / only bound by an inner OPTIONAL or a "
                "group BIND — an unbound join key on the optional side "
                "would silently never match (Spark null != null); bind "
                "them in every branch or in a required pattern")
        if gmeta and (corr or any(v in nullable for v in shared)):
            raise ValueError(
                f"{w}: LANG()/DATATYPE()/isIRI() metadata cannot combine "
                "with a filter referencing outer variables or a nullable "
                "shared variable — bind the variable in a required "
                "pattern")
        # duplicate group rows must not multiply solutions (metadata
        # columns take part: RDF term distinctness)
        step = step.dropDuplicates(gvars + gmeta)
        out = _compat_join(out, bound, mcols, nullable, step, gvars,
                           "left", w, corr)
        new = [v for v in gvars if v not in bound]
        bound += new
        nullable |= set(new)
        mcols += gmeta
    if g.values:
        out = _values_join(out, g.values, nullable)
        new = [v for v in dict.fromkeys(v for r in g.values for v in r)
               if v not in bound]
        bound += new
        nullable |= {v for v in new
                     if any(r.get(v) is None for r in g.values)}
    for var, expr in g.binds:
        if var in bound:
            raise ValueError(
                f"{where}: BIND would rebind {var!r} — SPARQL forbids "
                "rebinding an in-scope variable")
        out = out.withColumn(var, F.expr(expr))
        bound.append(var)
        # an erroring BIND leaves the variable unbound (null)
        nullable.add(var)

    for kind, how in (("not_exists", "anti"), ("exists", "semi"),
                      ("minus", "minus")):
        for gi, entry in enumerate(getattr(g, kind)):
            w = f"{kind} group {gi}"
            entries = [entry]
            if entry.seed_union() is not None:
                # NOT EXISTS and MINUS distribute over UNION; EXISTS
                # over UNION is an OR of the branches: a marker join
                entries = _expand_union_group(entry, set(bound), w)
                if kind == "exists":
                    flags = [f"_ex_{gi}_{bi}" for bi in range(len(entries))]
                    out, cond = _marker_join(triples, pos_cols, out, bound,
                                             nullable, entries, flags, w)
                    out = out.filter(cond).drop(*flags)
                    continue
            for bi, e in enumerate(entries):
                wb = f"{w} (UNION branch {bi})" if len(entries) > 1 else w
                inner, gvars, _, _, corr = _nested(
                    triples, e, pos_cols, set(bound), wb, None)
                on = [v for v in gvars if v in bound]
                if kind == "minus":
                    inner = _minus_filters(inner, corr,
                                           set(bound) - set(gvars), wb)
                    if not on:
                        continue    # disjoint domains: removes nothing
                    corr = []
                elif not on:
                    raise ValueError(
                        f"{wb} shares no variable with the required "
                        "patterns — it is not a per-solution test")
                out = _compat_join(out, bound, mcols, nullable, inner,
                                   gvars, how, wb, corr)
    if top and meta:
        raise ValueError(
            f"meta_vars {sorted(meta)} were never bound by a pattern — "
            "LANG()/DATATYPE()/isIRI() need the variable bound in a "
            "required or OPTIONAL triple pattern")
    if settle:
        out = out.select(*bound, *mcols)
    for fe in g.filter_exists:
        names: list[str] = []
        for name, gentry, neg in fe["markers"]:
            if name in bound:
                raise ValueError(
                    f"EXISTS marker column {name!r} collides with a "
                    "query variable — rename the variable")
            w = f"EXISTS inside FILTER expression {fe['expr']!r}"
            entries = [gentry] if gentry.seed_union() is None \
                else _expand_union_group(gentry, set(bound), w)
            flags = [f"{name}_b{bi}" for bi in range(len(entries))]
            out, cond = _marker_join(triples, pos_cols, out, bound,
                                     nullable, entries, flags, w)
            out = out.withColumn(name, ~cond if neg else cond).drop(*flags)
            names.append(name)
        out = out.where(F.expr(fe["expr"])).drop(*names)
    correlated: list[str] = []
    for fexpr in g.filters:
        if any(x in outer and x not in bound
               for x in _expr_identifiers(fexpr)):
            correlated.append(fexpr)
        else:
            out = out.where(F.expr(fexpr))
    return out, bound, nullable, mcols, correlated


def _nested(triples: DataFrame, g: Group, pos_cols: tuple, outer: set,
            where: str, meta: set | None):
    """Compile a nested group body with ``_compile``. ``meta`` is the
    caller's pending metadata requests for an OPTIONAL body, whose
    variables flow out. ``None`` marks a [NOT] EXISTS / MINUS /
    expression-EXISTS body: it binds nothing outward, so it serves the
    metadata its own filters read, and under SPARQL's substitution a
    variable shared with the outer solutions must be bound by a
    required body pattern."""
    _refuse_outer_refs(g, outer, where)
    if meta is None:
        _refuse_unsubstituted(g, outer, where)
        meta = {x[: -len(sfx)] for f in g.filters
                for x in _expr_identifiers(f)
                for sfx in META_SUFFIXES if x.endswith(sfx)}
    return _compile(triples, g, pos_cols, outer, where, meta)


def _refuse_outer_refs(g: Group, outer: set, where: str) -> None:
    """A group body's nested members — BINDs, [NOT] EXISTS / MINUS
    members, inner-OPTIONAL filters at any depth — see only the
    group's own variables: an outer reference there would need a
    conditional join. Refuse it typed, before compiling would die on
    an unresolved column."""
    gvars = g.vars()
    refs = [(f"BIND {e!r}", _expr_identifiers(e)) for _v, e in g.binds]
    refs += [(k.upper(), m.refs())
             for k in ("not_exists", "exists", "minus")
             for m in getattr(g, k)]
    inner = list(g.optional)
    while inner:
        ie = inner.pop()
        refs += [(f"inner-OPTIONAL filter {f!r}", _expr_identifiers(f))
                 for f in ie.filters]
        inner += ie.optional
    for what, names in refs:
        bad = sorted((names & outer) - gvars)
        if bad:
            raise ValueError(
                f"{where}: {what} references outer variables {bad} — "
                "only group variables are supported inside nested "
                "group members (outer references would need a "
                "conditional join)")


def _refuse_unsubstituted(g: Group, outer: set, where: str) -> None:
    """[NOT] EXISTS / MINUS bodies are evaluated under SUBSTITUTION: an
    outer-bound variable is a constant inside the body. The plan joins
    on the shared variables instead, which is equivalent only when the
    body binds them in a required pattern. A shared variable the body
    binds only through an inner OPTIONAL, a non-rename BIND, an
    UNDEF-able VALUES cell or a subquery (substitution does not descend
    into subqueries) would diverge — refuse it typed."""
    bad = sorted(g.nullable() & outer)
    if bad:
        raise ValueError(
            f"{where}: variable(s) {bad} are shared with the outer "
            "solutions but bound inside the body only by OPTIONAL / "
            "BIND / an UNDEF-able VALUES — substitution semantics would "
            "need a conditional join; bind them in a required body "
            "pattern or rename them")
    req = _pattern_tuple_vars(g.patterns)
    for sj in g.solution_joins:
        bad = sorted((set(sj["df"].columns) - req) & outer)
        if bad:
            raise ValueError(
                f"{where}: variable(s) {bad} are shared with the outer "
                "solutions but bound inside the body only by a subquery "
                "— substitution does not descend into subqueries, so the "
                "outer binding would not constrain them; bind them in a "
                "required body pattern or rename them")


def _minus_filters(inner: DataFrame, correlated: list[str],
                   outer_only: set, where: str) -> DataFrame:
    """Apply a MINUS body's filters that reference outer variables.
    MINUS does not substitute (§8.3.3): those variables are UNBOUND in
    the body, so they evaluate as SQL NULL — 3-valued logic mirrors
    SPARQL's error algebra (``error || true = true``, COALESCE skips
    the error, BOUND is false). IF()/CASE diverge (an erroring
    condition is an error in SPARQL, the else branch in SQL) and
    refuse."""
    for fexpr in correlated:
        refs = {x for x in _expr_identifiers(fexpr) if x in outer_only}
        code = "".join(_LITERAL_RE.split(fexpr)[0::2])
        if re.search(r"(?i)(?<!\w)(?:if\s*\(|case\b)", code):
            raise ValueError(
                f"{where}: filter {fexpr!r} references outer variables "
                f"{sorted(refs)} inside an IF()/CASE — SQL's "
                "null-condition semantics diverge from SPARQL's error "
                "propagation there; rewrite with &&/||/COALESCE")
        inner = inner.where(F.expr(_null_refs(fexpr, refs)))
    return inner


def _compat_join(out: DataFrame, bound: list[str], mcols: list[str],
                 nullable: set[str], right: DataFrame, rvars: list[str],
                 how: str, where: str, residual: list[str] = ()
                 ) -> DataFrame:
    """Join the solutions ``out`` (variables ``bound``, metadata
    ``mcols``) to a group's solutions ``right`` on their shared
    variables: ``how`` is "left" (OPTIONAL; new variables extend each
    solution), "semi" (EXISTS), "anti" (NOT EXISTS) or "minus".

    ``residual`` — correlated group filters — join as the residual
    condition beside the equi keys, group-variable references renamed
    to the right side; an erroring (null) filter fails the condition.

    SPARQL unbound-compatibility: a shared variable the solution left
    unbound (null) matches any binding. The solutions split by the
    null-mask of their nullable shared variables, each branch an
    equi-join on its bound keys, and the branches union back. In the
    all-unbound branch OPTIONAL matches every group row, [NOT] EXISTS
    tests whether the group matches at all, and MINUS removes nothing
    (disjoint domains). Without a nullable shared variable — the
    common case — this is one plain join."""
    shared = [v for v in rvars if v in bound]
    new = [v for v in rvars if v not in bound]
    nsh = [v for v in shared if v in nullable]
    left = how == "left"
    jhow = "anti" if how == "minus" else how
    if residual:
        if nsh:
            raise ValueError(
                f"{where}: correlated group filters over nullable shared "
                f"variables {nsh} are not supported — bind them in a "
                "required pattern")
        pfx = "_o_" if left else "_g_"
        r = right.select(*[F.col(v).alias(pfx + v) for v in rvars])
        if not left:
            r = r.distinct()
        cond = F.lit(True)
        for v in shared:
            cond = cond & (F.col(v) == F.col(pfx + v))
        ren = {v: pfx + v for v in rvars}
        for fexpr in residual:
            cond = cond & F.expr(_rewrite_refs(fexpr, ren))
        j = out.join(r, cond, jhow)
        if not left:
            return j
        return j.select(*bound, *[F.col(pfx + v).alias(v) for v in new],
                        *mcols)
    if not nsh:
        if left:
            return out.join(right, shared, "left")
        return out.join(right.select(*shared).distinct(), shared, jhow)
    # every branch filters the same solutions: materialize them once
    # (masks first, so the >4-nullable guard raises before the cut)
    masks = _null_masks(nsh, where)
    out = reuse(out)
    r = right.select(*[F.col(v).alias(f"_o_{v}") for v in rvars]) \
        if left else None
    branches = []
    for mask in masks:
        left_m = out.filter(_mask_filter(mask, nsh))
        key = [v for v in shared if v not in mask]
        if left:
            jc = F.lit(True)
            for v in key:
                jc = jc & (F.col(v) == F.col(f"_o_{v}"))
            sel = [F.coalesce(F.col(v), F.col(f"_o_{v}")).alias(v)
                   if v in mask else F.col(v) for v in bound]
            sel += [F.col(f"_o_{v}").alias(v) for v in new]
            branches.append(left_m.join(r, jc, "left")
                            .select(*sel, *mcols))
        elif key:
            branches.append(left_m.join(right.select(*key).distinct(),
                                        key, jhow))
        elif how == "minus":
            branches.append(left_m)
        else:
            probe = right.limit(1).select(F.lit(1).alias("_probe"))
            branches.append(left_m.join(probe, F.lit(True), jhow))
    res = branches[0]
    for b in branches[1:]:
        res = res.unionByName(b)
    return res


def _marker_join(triples: DataFrame, pos_cols: tuple, out: DataFrame,
                 bound: list[str], nullable: set[str], entries: list,
                 flags: list[str], where: str):
    """EXISTS as a VALUE (over a UNION body, or inside a FILTER
    expression), which no semi/anti join can express: per entry, left-
    join its DISTINCT shared-key set carrying a flag column (unique
    keys: no row multiplication). Returns (joined solutions, "some
    entry matched" condition)."""
    cond = None
    for entry, flag in zip(entries, flags):
        inner, gvars, _, _, corr = _nested(
            triples, entry, pos_cols, set(bound), where, None)
        if corr:
            raise ValueError(
                f"{where}: correlated group filters {corr} are not "
                "supported here — use a standalone FILTER EXISTS per "
                "branch")
        on = [v for v in gvars if v in bound]
        if not on:
            raise ValueError(
                f"{where} shares no variable with the required patterns "
                "— it is not a per-solution test")
        nsh = [v for v in on if v in nullable]
        if nsh:
            raise ValueError(
                f"{where}: nullable shared variable(s) {nsh} are not "
                "supported here — bind them in a required pattern")
        out = out.join(inner.select(*on).distinct()
                       .withColumn(flag, F.lit(1)), on, "left")
        c = F.col(flag).isNotNull()
        cond = c if cond is None else cond | c
    return out, cond


def _values_join(out: DataFrame, rows: list[dict],
                 nullable: set[str]) -> DataFrame:
    """Join a VALUES table (``{var: constant}`` rows, ``None`` = UNDEF)
    to the solutions: shared variables constrain, new ones extend
    (appended after ``out``'s columns). An UNDEF cell, or a shared
    variable the solution left unbound (``nullable``), is compatible
    with anything and takes the other side's value, so those joins use
    a null-tolerant condition instead of the equi key. VALUES tables
    are literal and tiny: always broadcast."""
    vvars = list(dict.fromkeys(v for row in rows for v in row))
    vdf = local_frame(
        out.sparkSession, [tuple(row.get(v) for v in vvars) for row in rows],
        ", ".join(f"`{v}` string" for v in vvars))
    shared = [v for v in vvars if v in out.columns]
    order = list(out.columns) + [v for v in vvars if v not in shared]
    if not shared:
        return out.crossJoin(F.broadcast(vdf)).select(*order)
    nsh = [v for v in shared if v in nullable]
    if not nsh and not any(row.get(v) is None
                           for row in rows for v in shared):
        return out.join(F.broadcast(vdf), shared).select(*order)
    vdf2 = vdf.select(*[F.col(v).alias(f"_v_{v}") for v in vvars])
    cond = None
    for v in shared:
        c = F.col(f"_v_{v}").isNull() | (F.col(f"_v_{v}") == F.col(v))
        if v in nullable:
            c = c | F.col(v).isNull()
        cond = c if cond is None else (cond & c)
    j = out.join(F.broadcast(vdf2), cond)
    for v in nsh:
        j = j.withColumn(v, F.coalesce(F.col(v), F.col(f"_v_{v}")))
    for v in vvars:
        if v not in shared:
            j = j.withColumnRenamed(f"_v_{v}", v)
    return j.drop(*[f"_v_{v}" for v in shared]).select(*order)


def _expand_union_group(group: Group, outer: set, where: str) -> list:
    """A UNION-seeded group → one Group per branch (NOT EXISTS and
    MINUS distribute over UNION; EXISTS ORs the branches). Filters must
    reference only variables bound by every branch (or outer
    variables): distributed into a branch that does not bind the
    variable, the filter would be a type error → false, silently
    emptying just that branch. BINDs distribute too (Extend over
    Union)."""
    branches = group.seed_union()
    per = [_pattern_tuple_vars(b.patterns) for b in branches]
    allv, common = set.union(*per), set.intersection(*per)
    for fexpr in group.filters:
        bad = sorted(x for x in _expr_identifiers(fexpr)
                     if x in allv and x not in common and x not in outer)
        if bad:
            raise ValueError(
                f"{where}: filter {fexpr!r} references variable(s) "
                f"{bad} not bound by every UNION branch — bind them in "
                "every branch")
    return [Group(patterns=b.patterns, filters=group.filters + b.filters,
                  binds=list(group.binds)) for b in branches]


def _union(triples: DataFrame, branches: list[Group], pos_cols: tuple,
           distinct: bool, meta: set):
    """Evaluate one UNION block: each branch is its own group, so its
    own join tree, planned independently (a selective branch still
    broadcasts when a sibling is large). A variable a branch does not
    bind is null in its rows (SPARQL's unbound), and the output carries
    every branch's variables in first-appearance order. The union is a
    zero-shuffle concatenation; ``distinct`` adds one hash aggregate.
    A branch FILTER is scoped to its branch, so it may read only the
    variables the branch binds and the metadata served for them.
    Serves the requests in ``meta`` that a branch binds: each branch
    emits the metadata of the variables it binds, and a branch that
    does not bind one pads null (LANG() of unbound is a type error →
    NULL). Returns (solutions, variables, metadata columns, nullable
    variables)."""
    if not branches:
        raise ValueError("empty branch list")
    per = [_pattern_tuple_vars(b.patterns) for b in branches]
    uvars = set.union(*per)
    served = meta & uvars
    meta.difference_update(served)
    for bi, (b, bv) in enumerate(zip(branches, per)):
        ok = bv | {f"{v}{sfx}" for v in served & bv
                   for sfx in META_SUFFIXES}
        for expr in b.filters:
            loose = sorted(_expr_identifiers(expr) - ok)
            if loose:
                raise ValueError(
                    f"union branch {bi} filter {expr!r} references "
                    f"{loose} not bound in that branch — a branch "
                    "FILTER scopes to its branch group (for "
                    "LANG()/DATATYPE() pass the var in meta_vars)")
    for b in branches:
        _refuse_constant(b)
    if sum(len(b.patterns) for b in branches) > 1:
        # each branch pattern reads the triples
        triples = reuse(triples)
    outs = [_compile(triples, b, pos_cols, set(), "query", served & bv,
                     top=True, distinct=True)[0]
            for b, bv in zip(branches, per)]
    all_vars: list[str] = []
    for o in outs:
        all_vars += [v for v in o.columns if v not in all_vars]
    aligned = [o.select(*[F.col(v) if v in o.columns
                          else F.lit(None).cast("string").alias(v)
                          for v in all_vars]) for o in outs]
    out = aligned[0]
    for o in aligned[1:]:
        out = out.unionByName(o)
    if distinct:
        out = out.distinct()
    return (out, [c for c in out.columns if c in uvars],
            [c for c in out.columns if c not in uvars],
            uvars - set.intersection(*per))


def bgp_union(triples: DataFrame,
              branches: list[list[tuple[str, str, str]]],
              s_col: str = "subj", p_col: str = "pred",
              o_col: str = "obj_value", g_col: str = "graph",
              distinct: bool = True,
              branch_filters: list[list[str]] | None = None,
              meta_vars: set | None = None) -> DataFrame:
    """SPARQL UNION: match each branch (a BGP pattern list) and take
    the set union of the solution sets. Branches may bind different
    variables — a variable absent from a branch is null in its rows
    (SPARQL's unbound), and the output carries the union of all
    variables in first-appearance order across branches.
    ``branch_filters`` (parallel to ``branches``) are group-scoped
    FILTER expressions applied to that branch's solutions BEFORE the
    null-padding union — SPARQL scopes a branch FILTER to the branch
    group, so it may reference only branch-bound variables.
    ``distinct=False`` keeps duplicate solutions (bag semantics).

    Plan shape: each branch is an independent join tree; the union is
    a zero-shuffle concatenation and the final distinct one hash
    aggregate. Branch trees are planned independently, so a selective
    branch still broadcasts even when a sibling is large.
    """
    entry = {"union": branches}
    if branch_filters is not None:
        entry["branch_filters"] = branch_filters
    g = _as_group(entry, "query")
    _refuse_constant(g)
    return _compile(triples, g,
                    (s_col, p_col, o_col, g_col), set(), "query",
                    set(meta_vars or ()), top=True, distinct=distinct)[0]


def construct(triples: DataFrame, patterns: list[tuple[str, str, str]],
              template: list[tuple[str, str, str]],
              optional: list[tuple[str, str, str]] | None = None,
              not_exists: list[list[tuple[str, str, str]]] | None = None,
              exists: list[list[tuple[str, str, str]]] | None = None,
              minus: list[list[tuple[str, str, str]]] | None = None,
              filters: list[str] | None = None,
              values: list[dict[str, str | None]] | None = None,
              binds: list[tuple[str, str]] | None = None,
              s_col: str = "subj", p_col: str = "pred",
              o_col: str = "obj_value", g_col: str = "graph",
              solution_joins: list | None = None,
              meta_vars: set | None = None,
              filter_exists: list[dict] | None = None,
              mint_vars: set[str] | None = None) -> DataFrame:
    """SPARQL CONSTRUCT: match the WHERE clause (same arguments as
    ``bgp_match``) and instantiate each ``template`` triple once per
    solution, returning a new (subj, pred, obj_value) triple table —
    the KG-construction primitive for deriving a target graph from a
    source graph. Template terms are variables (``?x``, must be bound
    by the WHERE clause) or constants. Per SPARQL, a template triple
    referencing a variable the solution left unbound (null, from a
    non-matching OPTIONAL) is skipped for that solution; other template
    triples of the same solution still emit. Output is distinct (a
    graph is a triple SET).

    ``mint_vars`` — template blank-node labels (SPARQL "blank nodes
    in the template", §16.2): each listed name is minted as a fresh
    blank node per solution — the same node across every template
    triple of one solution, a different node for a different
    solution. Template labels are scoped to the template (§19.6), so
    a mint name shadows any same-named WHERE variable. Minting is
    deterministic and distributed (no shuffle, no driver state): the
    id is ``_:m`` + md5(label + a length-prefixed encoding of every
    solution column), so distinct solutions yield distinct nodes and
    re-running the query re-mints the same ids (idempotent
    materialization).

    Plan shape: one ``bgp_match`` join tree, then each template triple
    is a projection over it — the match is planned once and the
    template fan-out is zero-shuffle; the final distinct is the only
    added exchange.
    """
    sol = bgp_match(triples, patterns, optional=optional,
                    not_exists=not_exists, exists=exists, minus=minus,
                    filters=filters, values=values, binds=binds,
                    s_col=s_col, p_col=p_col, o_col=o_col, g_col=g_col,
                    solution_joins=solution_joins, meta_vars=meta_vars,
                    filter_exists=filter_exists)
    return _template_rows(sol, template, mint_vars)


def _template_rows(sol: DataFrame, template: list[tuple[str, str, str]],
                   mint_vars: set[str] | None = None) -> DataFrame:
    """The template half of ``construct``: instantiate each template
    triple once per row of the solutions ``sol``."""
    if not template:
        raise ValueError("empty template")
    if len(template) > 1:
        # each template triple projects the solution set with its own
        # null filters, so a k-triple template re-plans (and re-joins)
        # the WHERE clause k times — materialize the solutions once;
        # single-template constructs read it once
        sol = reuse(sol)
    bound = set(sol.columns)
    mint = set(mint_vars or ())
    mint_key = None
    if mint:
        # solution identity, null-safe and unambiguous: each column is
        # length-prefixed ("3:abc", null -> "n") so no concatenation of
        # different solutions can collide
        enc = []
        for c in sorted(sol.columns):
            cs = F.col(c).cast("string")
            enc.append(F.when(cs.isNull(), F.lit("n")).otherwise(
                F.concat(F.length(cs).cast("string"), F.lit(":"), cs)))
        mint_key = F.concat_ws("|", *enc)

    def term(t: str, alias: str):
        if t.startswith("?"):
            var = t[1:]
            if var in mint:
                return F.concat(
                    F.lit("_:m"),
                    F.md5(F.concat_ws("|", F.lit(var), mint_key))
                ).alias(alias)
            if var not in bound:
                raise ValueError(
                    f"template variable ?{var} is not bound by the "
                    f"WHERE clause (bound: {sorted(bound)})")
            return F.col(var).alias(alias)
        return F.lit(t).alias(alias)

    outs: list[DataFrame] = []
    for i, tri in enumerate(template):
        if len(tri) != 3:
            raise ValueError(f"template triple {i} must be (s, p, o)")
        row = sol.select(term(tri[0], "subj"), term(tri[1], "pred"),
                         term(tri[2], "obj_value"))
        for c in ("subj", "pred", "obj_value"):
            row = row.where(F.col(c).isNotNull())
        outs.append(row)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.distinct()


def _driver_closure(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """Transitive closure of small (sub, sup) edge list — plain BFS per
    node; the schema is bounded (see rdfs_closure), so O(V·E) is fine
    driver-side."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out: set[tuple[str, str]] = set()
    for start in adj:
        seen: set[str] = set()
        stack = list(adj[start])
        while stack:
            n = stack.pop()
            if n == start:
                # start reachable from itself: A lies on a cycle
                # (e.g. A⊑B, B⊑A — the class-equivalence idiom), so
                # the closure includes the reflexive pair (rdfs5/11
                # entail A⊑A there); acyclic nodes get no diagonal
                seen.add(n)
                continue
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        out.update((start, s) for s in seen)
    return out


def _schema_rows(schema: DataFrame, cols: tuple[str, str, str],
                 max_rows: int, op: str) -> list[tuple]:
    """The schema's (s, p, o) rows, read by one job; more than
    ``max_rows`` is a typed error (``op`` closes the schema on the
    driver and broadcasts it)."""
    rows = schema.select(*cols).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"schema has >{max_rows} rows — not an ontology; "
            f"{op} broadcasts the schema by design")
    return [tuple(r) for r in rows]


def rdfs_closure(triples: DataFrame, schema: DataFrame,
                 s_col: str = "subj", p_col: str = "pred",
                 o_col: str = "obj_value", kind_col: str | None = "obj_kind",
                 max_schema_rows: int = 100_000) -> DataFrame:
    """RDFS entailment (rules rdfs2/3/5/7/9/11) of ``triples`` under
    ``schema``: returns the ENTAILED triples (subj, pred, obj) —
    distinct, not already required to be absent from the input.

    * rdfs7: (p subPropertyOf* q), (s p o)        → (s q o)
    * rdfs2: (p domain D), (s p o)                → (s type D)
    * rdfs3: (p range R), (s p o), o a node       → (o type R)
    * rdfs9/11: (x type C), (C subClassOf* D)     → (x type D)

    Scale contract: the schema is an ontology — its size does not grow
    with the corpus — so its subPropertyOf/subClassOf TRANSITIVE
    closures are computed driver-side (bounded by ``max_schema_rows``,
    typed error above: an oversized "schema" is a modelling bug, not a
    partitioning problem) and every application to the fact table is a
    single broadcast equi-join. Domain/range are pre-composed with the
    property closure driver-side too (if p ⊑ q and q has domain D then
    p implies D), so the data passes are: one join for rdfs7, one for
    rdfs2, one for rdfs3, and the type triples (original + derived)
    join the class closure once for rdfs9 — a fixed 4-join DAG over
    the big table, no data-side fixpoint, equivalent to the RDFS
    fixpoint because the schema closure is exact.

    ``kind_col`` (when present) gates rdfs3 to non-literal objects
    (IRIs AND blank nodes — rdfs3 applies to both; JSON-LD expansion
    emits a bnode for every nested node without @id). Pass ``None``
    if the triples frame has no kind column (every object treated as
    a node).
    """
    rows = _schema_rows(schema, (s_col, p_col, o_col), max_schema_rows,
                        "rdfs_closure")
    sub_prop = [(s, o) for s, p, o in rows if p == SUB_PROP]
    sub_cls = [(s, o) for s, p, o in rows if p == SUB_CLASS]
    prop_clo = {(a, b) for a, b in sub_prop} | _driver_closure(sub_prop)
    cls_clo = {(a, b) for a, b in sub_cls} | _driver_closure(sub_cls)
    # compose domain/range through the property closure: p ⊑* q carries
    # q's domain/range down to p
    dom = {(s, o) for s, p, o in rows if p == DOMAIN}
    rng = {(s, o) for s, p, o in rows if p == RANGE}
    dom |= {(p, d) for p, q in prop_clo for q2, d in dom if q2 == q}
    rng |= {(p, r) for p, q in prop_clo for q2, r in rng if q2 == q}

    spark = triples.sparkSession

    def _edge_df(pairs: set[tuple[str, str]], a: str, b: str) -> DataFrame:
        return local_frame(spark, sorted(pairs), f"{a} string, {b} string")

    sel = [F.col(s_col).alias("subj"), F.col(p_col).alias("pred"),
           F.col(o_col).alias("obj")]
    # read by every rule branch
    facts = reuse(triples.select(
        *sel, *([F.col(kind_col).alias("_kind")] if kind_col else
                [F.lit("iri").alias("_kind")])))

    # rdfs7: super-property expansion
    sp = _edge_df(prop_clo, "p_sub", "p_sup")
    ent7 = (facts.join(F.broadcast(sp), facts.pred == sp.p_sub)
            .select("subj", F.col("p_sup").alias("pred"), "obj", "_kind"))
    # rdfs2/3 over original facts (ent7 facts are covered because dom/rng
    # were composed through the property closure)
    dm = _edge_df(dom, "p_dom", "cls")
    ent2 = (facts.join(F.broadcast(dm), facts.pred == dm.p_dom)
            .select("subj", F.lit(RDF_TYPE).alias("pred"),
                    F.col("cls").alias("obj")))
    rg = _edge_df(rng, "p_rng", "cls")
    ent3 = (facts.where(F.col("_kind") != "literal")
            .join(F.broadcast(rg), facts.pred == rg.p_rng)
            .select(F.col("obj").alias("subj"),
                    F.lit(RDF_TYPE).alias("pred"),
                    F.col("cls").alias("obj")))
    # rdfs9/11: all type triples (asserted + just derived) × class closure
    types = (facts.where(F.col("pred") == RDF_TYPE)
             .select("subj", "pred", "obj")
             .unionByName(ent2).unionByName(ent3)
             .unionByName(ent7.where(F.col("pred") == RDF_TYPE)
                          .select("subj", "pred", "obj")))
    cc = _edge_df(cls_clo, "c_sub", "c_sup")
    ent9 = (types.join(F.broadcast(cc), types.obj == cc.c_sub)
            .select("subj", "pred", F.col("c_sup").alias("obj")))

    # rdfs5/rdfs11: the transitive subPropertyOf/subClassOf triples
    # themselves are entailments too (schema-sized — tiny)
    ent5 = _edge_df(prop_clo, "subj", "obj").select(
        "subj", F.lit(SUB_PROP).alias("pred"), "obj")
    ent11 = _edge_df(cls_clo, "subj", "obj").select(
        "subj", F.lit(SUB_CLASS).alias("pred"), "obj")
    return (ent7.select("subj", "pred", "obj")
            .unionByName(ent2).unionByName(ent3).unionByName(ent9)
            .unionByName(ent5).unionByName(ent11)
            .distinct())


def property_path(triples: DataFrame, pred: str,
                  s_col: str = "subj", p_col: str = "pred",
                  o_col: str = "obj_value",
                  max_rounds: int = 20) -> DataFrame:
    """SPARQL property path ``pred+``: every (src, dst) pair connected
    by a directed path of one or more ``pred`` edges. Unlike
    ``rdfs_closure`` — whose transitive relations live in a SMALL
    schema closed driver-side — this closes a relation inside the fact
    table itself (deployment hierarchies, part-of chains, reply-to
    threads), so the closure runs data-side.

    Iterative doubling: after round r the path set holds every pair up
    to 2^r hops, so a diameter-D relation converges in ceil(log2 D)
    rounds — each one self-equi-join + distinct, lineage-cut so round
    r+1 reads a materialized table instead of replaying r rounds of
    joins. Cycles are safe: ``distinct`` caps growth at |V|², and —
    per SPARQL OneOrMorePath semantics — reflexive (a, a) pairs ARE
    kept when a self-loop edge exists or ``a`` lies on a cycle (they
    arise naturally from the join and are never filtered away).
    ``max_rounds=20`` spans paths of
    10^6 hops; a relation that has not converged by then raises rather
    than silently truncating. Output size is the real scale bound —
    O(V·D) for hierarchies (fine for taxonomy/thread shapes, the
    intended use), O(V²) for dense cyclic relations (don't). The same
    plan as ``kg_path(triples, f"<{pred}>+")``, which computes it.
    """
    return kg_path(triples, f"<{pred}>+", s_col=s_col, p_col=p_col,
                   o_col=o_col, max_rounds=max_rounds)


def _compose(a: DataFrame, b: DataFrame,
             extra: tuple[str, ...] = ()) -> DataFrame:
    """Relation composition: (x, z) for every a(x, y), b(y, z) — one
    equi-join on the midpoint, within each ``extra`` group."""
    cond = F.col("a.dst") == F.col("b.src")
    for g in extra:
        cond &= F.col(f"a.{g}") == F.col(f"b.{g}")
    return (a.alias("a").join(b.alias("b"), cond)
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"),
                    *[F.col(f"a.{g}").alias(g) for g in extra]))


def _path_closure(edges: DataFrame, max_rounds: int = 20,
                  extra: tuple[str, ...] = ()) -> DataFrame:
    """Transitive closure of an arbitrary (src, dst) edge relation by
    iterative doubling — the shared kernel behind ``property_path``
    (``p+``) and the ``kg_path`` algebra's ``+``/``*`` operators.

    ``extra`` names carried grouping columns (e.g. the graph name):
    they join the doubling equi-join key, so the closure is computed
    independently WITHIN each group — every group in one distributed
    job, no per-group loop. This is what makes ``GRAPH ?g { ?s p+ ?o }``
    a single fixpoint over all named graphs at once."""
    from ..session import fixpoint, observed_cut
    cols = ["src", "dst", *extra]
    # NOT spread_partitions'd: unlike the LSH band joins (output ≫
    # input), a closure round's join output is ~the path table's size,
    # so forcing extra exchanges per round costs more than the added
    # parallelism buys (measured: owl_entail 9.0 s → 11.9 s with a
    # spread here)
    n_rows = F.count(F.lit(1))
    # the initial count seeds the fixpoint's no-growth stop test
    paths, n = observed_cut(edges.select(*cols).distinct(), n_rows)
    paths, converged = fixpoint(
        paths,
        lambda p: p.unionByName(_compose(p, p, extra)).distinct(),
        n_rows, lambda prev, m: m == prev, max_rounds, stat=n)
    if not converged:
        raise RuntimeError(
            f"property_path: no fixpoint after {max_rounds} doubling rounds "
            f"(paths of 2^{max_rounds} hops) — relation too deep or growing "
            "pathologically; raise max_rounds only if that is expected")
    return paths


# ---------------------------------------------------------------------------
# SPARQL property-path ALGEBRA: sequences, alternatives, inverse,
# and the zero-length-capable closures, composed over the same
# doubling kernel as ``property_path``.
# ---------------------------------------------------------------------------

#: the path operators; any other token is an IRI (or an error)
_PATH_OPS = frozenset("|/+*?^!()")
_PATH_MODS = {"+": "plus", "*": "star", "?": "opt"}


class _PathGrammar:
    """The SPARQL 1.1 property-path grammar (§9.1), the one parser of
    path syntax: ``kg_path`` strings (``_PathLexer``) and the SPARQL
    text parser's token stream both feed it. Precedence low→high:

        alt    := seq ('|' seq)*
        seq    := post ('/' post)*
        post   := prim ('+' | '*' | '?')?
        prim   := IRI | '^' prim | '!' negset | '(' alt ')'
        negset := member | '(' member ('|' member)* ')'
        member := IRI | '^' IRI

    A front end supplies the tokens: ``_path_op()`` is the operator at
    the cursor ('' for any other token), ``_path_skip()`` consumes it,
    ``_path_iri()`` consumes one IRI and returns it, and
    ``_path_error(msg)`` makes the exception to raise. The result is
    the tuple tree ``kg_path`` evaluates: ``('pred', iri)``, ``('inv',
    n)``, ``('seq' | 'alt', a, b)``, ``('plus' | 'star' | 'opt', n)``
    and ``('negset', forward_iris, inverse_iris)``."""

    def _path_alt(self) -> tuple:
        node = self._path_seq()
        while self._path_op() == "|":
            self._path_skip()
            node = ("alt", node, self._path_seq())
        return node

    def _path_seq(self) -> tuple:
        node = self._path_post()
        while self._path_op() == "/":
            self._path_skip()
            node = ("seq", node, self._path_post())
        return node

    def _path_post(self) -> tuple:
        node = self._path_prim()
        mod = _PATH_MODS.get(self._path_op())
        if mod:
            self._path_skip()
            node = (mod, node)
        return node

    def _path_prim(self) -> tuple:
        op = self._path_op()
        if op == "^":
            self._path_skip()
            return ("inv", self._path_prim())
        if op == "!":
            self._path_skip()
            return self._path_negset()
        if op == "(":
            self._path_skip()
            node = self._path_alt()
            self._path_close("expected ')'")
            return node
        return ("pred", self._path_iri())

    def _path_negset(self) -> tuple:
        """Forward and inverse members are collected apart: they negate
        different scan directions."""
        fwd: list[str] = []
        inv: list[str] = []
        grouped = self._path_op() == "("
        if grouped:
            self._path_skip()
        while True:
            if self._path_op() == "^":
                self._path_skip()
                inv.append(self._path_iri())
            else:
                fwd.append(self._path_iri())
            if not grouped or self._path_op() != "|":
                break
            self._path_skip()
        if grouped:
            self._path_close("expected '|' or ')' in negated set")
        return ("negset", tuple(fwd), tuple(inv))

    def _path_close(self, msg: str) -> None:
        if self._path_op() != ")":
            raise self._path_error(msg)
        self._path_skip()


class _PathLexer(_PathGrammar):
    """``kg_path``'s tokens: the operator characters and ``<iri>``;
    IRIs MUST be angle-bracketed — they contain ``/`` and ``|``
    themselves, so bare IRIs are ambiguous in a path string."""

    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def parse(self) -> tuple:
        node = self._path_alt()
        self._path_op()     # skips trailing whitespace
        if self.i < len(self.s):
            raise self._path_error(f"unexpected {self.s[self.i]!r}")
        return node

    def _path_op(self) -> str:
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1
        c = self.s[self.i:self.i + 1]
        return c if c in _PATH_OPS else ""

    def _path_skip(self) -> None:
        self.i += 1

    def _path_iri(self) -> str:
        if self._path_op() or not self.s.startswith("<", self.i):
            raise self._path_error("expected '<iri>', '^', '!' or '('")
        j = self.s.find(">", self.i)
        if j < 0:
            raise self._path_error("unterminated '<iri>'")
        if j == self.i + 1:
            raise self._path_error("empty IRI")
        iri, self.i = self.s[self.i + 1:j], j + 1
        return iri

    def _path_error(self, msg: str) -> ValueError:
        return ValueError(f"path syntax error at offset {self.i} "
                          f"in {self.s!r}: {msg}")


def kg_path(triples: DataFrame, path: str,
            s_col: str = "subj", p_col: str = "pred",
            o_col: str = "obj_value",
            max_rounds: int = 20,
            g_col: str | None = None) -> DataFrame:
    """Evaluate a SPARQL 1.1 property-path expression over the triples
    table, returning the distinct (src, dst) pairs it connects.

    With ``g_col`` set (the GRAPH ?var case) every relation carries a
    third column ``g`` and the path is evaluated independently WITHIN
    each named graph — the graph column rides every equi-join key
    (sequence midpoints, the doubling closure) and the zero-length
    identity is per-graph, so ALL graphs' paths are computed in one
    distributed job rather than one closure per graph.

    ``path`` syntax (IRIs angle-bracketed, precedence per SPARQL §9.1):
    ``<p>`` single predicate, ``^p`` inverse, ``p1/p2`` sequence,
    ``p1|p2`` alternative, ``p+`` one-or-more, ``p*`` zero-or-more,
    ``p?`` zero-or-one, ``!<p>`` / ``!(<p1>|^<p2>)`` negated property
    sets (all OTHER predicates, per direction), parentheses group.
    Example:
    ``(<ex:parent>/<ex:parent>)+ | <ex:ancestorOf>*``.

    Plan shape per operator — all plain relational algebra Catalyst
    can push/reorder: predicate = one pushed-filter scan projected to
    (src, dst); inverse = column swap (free); sequence = one equi-join
    on the midpoint + distinct; alternative = union + distinct;
    ``+``/``*`` = the iterative-doubling closure kernel
    (log2(diameter) lineage-cut rounds, same as ``property_path``).

    Zero-length semantics (``*``/``?``): SPARQL's zero-length path
    matches every term IN THE GRAPH, so the identity relation here is
    built over the distinct union of all subjects and objects of
    ``triples`` — computed once per kg_path call and reused across
    every ``*``/``?`` in the expression (it is one distinct over two
    projected scans, cheap next to any closure).
    """
    ast = _PathLexer(path).parse()

    def scans(node) -> int:
        # a negated set scans once per direction it names, and the
        # zero-length identity scans subjects and objects
        op, *args = node
        if op == "pred":
            return 1
        if op == "negset":
            return 1 + bool(args[0] and args[1])
        return 2 * (op in ("star", "opt")) + sum(map(scans, args))

    if scans(ast) > 1:
        triples = reuse(triples)
    nodes_cache: list[DataFrame] = []
    gx: tuple = () if g_col is None else (F.col(g_col).alias("g"),)
    extra: tuple = () if g_col is None else ("g",)

    def nodes() -> DataFrame:
        if not nodes_cache:
            subs = triples.select(F.col(s_col).alias("n"), *gx)
            objs = triples.select(F.col(o_col).alias("n"), *gx)
            keep = [F.col("n").alias("src"), F.col("n").alias("dst"),
                    *[F.col(g) for g in extra]]
            # shared by every */? operator of the expression
            nodes_cache.append(reuse(
                subs.unionByName(objs).distinct().select(*keep)))
        return nodes_cache[0]

    def ev(node: tuple) -> DataFrame:
        op = node[0]
        if op == "pred":
            return (triples.where(F.col(p_col) == node[1])
                    .select(F.col(s_col).alias("src"),
                            F.col(o_col).alias("dst"), *gx).distinct())
        if op == "inv":
            return ev(node[1]).select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                *[F.col(g) for g in extra])
        if op == "seq":
            return _compose(ev(node[1]), ev(node[2]), extra).distinct()
        if op == "alt":
            return ev(node[1]).unionByName(ev(node[2])).distinct()
        if op == "plus":
            return _path_closure(ev(node[1]), max_rounds, extra=extra)
        if op == "star":
            return (_path_closure(ev(node[1]), max_rounds, extra=extra)
                    .unionByName(nodes()).distinct())
        if op == "opt":
            return ev(node[1]).unionByName(nodes()).distinct()
        if op == "negset":
            fwd, inv = node[1], node[2]
            parts = []
            # SPARQL §9.15: x→y iff a FORWARD triple exists with pred
            # outside the forward set, or (when inverse members are
            # present) a REVERSE triple with pred outside the inverse
            # set. A direction with no members contributes nothing
            # unless it is the only direction named.
            if fwd or not inv:
                parts.append(triples.where(~F.col(p_col).isin(list(fwd)))
                             .select(F.col(s_col).alias("src"),
                                     F.col(o_col).alias("dst"), *gx))
            if inv:
                parts.append(triples.where(~F.col(p_col).isin(list(inv)))
                             .select(F.col(o_col).alias("src"),
                                     F.col(s_col).alias("dst"), *gx))
            out = parts[0]
            for q in parts[1:]:
                out = out.unionByName(q)
            return out.distinct()
        raise AssertionError(f"unknown path op {op!r}")

    return ev(ast)


XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

_NODE_KINDS = ("iri", "literal", "bnode")
# legacy spelling accepted and normalized — the engine's quad schema
# (core/rdf.py) emits 'bnode', earlier Shape callers wrote 'blank'
_KIND_ALIASES = {"blank": "bnode"}


@dataclass(frozen=True)
class Shape:
    """One SHACL-style property shape (the sh:property subset that
    matters for KG-construction quality gates; cf. W3C SHACL Core).

    Focus selection: ``target_class`` (subjects with rdf:type that
    class), else ``targets`` (subjects having at least one value for
    that predicate), else every distinct subject. ``path`` is the
    constrained predicate. Constraint fields are independent — any
    subset may be set:

    * ``min_count`` / ``max_count`` — cardinality of DISTINCT values
      per focus node (triple-set semantics: duplicate rows of the same
      triple are one value node).
    * ``node_kind`` — 'iri' | 'literal' | 'bnode' ('blank' is a
      legacy alias, normalized to 'bnode' — the spelling the engine's
      quad schema emits, core/rdf.py).
    * ``datatype`` — required literal datatype IRI (absent datatype on
      a literal means xsd:string, per RDF 1.1); non-literals violate.
    * ``pattern`` — regex the value must match (Spark ``rlike``).
    * ``in_set`` — closed value set.
    * ``value_class`` — values must be IRIs with rdf:type that class.
    """
    shape_id: str
    path: str
    targets: str | None = None
    target_class: str | None = None
    min_count: int | None = None
    max_count: int | None = None
    node_kind: str | None = None
    datatype: str | None = None
    pattern: str | None = None
    in_set: tuple[str, ...] | None = None
    value_class: str | None = None

    def __post_init__(self) -> None:
        if self.node_kind is not None:
            nk = _KIND_ALIASES.get(self.node_kind, self.node_kind)
            if nk not in _NODE_KINDS:
                raise ValueError(f"node_kind must be one of {_NODE_KINDS}")
            object.__setattr__(self, "node_kind", nk)
        if not any(getattr(self, f) is not None for f in
                   ("min_count", "max_count", "node_kind", "datatype",
                    "pattern", "in_set", "value_class")):
            raise ValueError(f"shape {self.shape_id!r} has no constraints")


def shacl_validate(triples: DataFrame, shapes: list[Shape],
                   s_col: str = "subj", p_col: str = "pred",
                   o_col: str = "obj_value", kind_col: str = "obj_kind",
                   dt_col: str = "obj_datatype",
                   lang_col: str = "obj_lang",
                   type_pred: str = RDF_TYPE) -> DataFrame:
    """Validate the triples table against SHACL-style shapes, returning
    violation rows (shape_id, focus, constraint_kind, value) — empty
    when the graph conforms. ``value`` is the offending value, or the
    observed distinct-value count for cardinality violations.

    Plan shape (per shape; shapes are a small driver-side list): the
    ``path``/target predicate filters push down to the scan; the
    cardinality check is one subj-keyed count-distinct aggregate
    (map-side partial agg) left-joined to the focus set; value checks
    are filters over the path scan semi-joined to the focus set (AQE
    broadcasts whichever side is small); ``value_class`` is an
    anti-join against the typed-subject set. Nothing is quadratic and
    no driver collect happens — at 10^12 docs each shape costs one or
    two subj-keyed shuffles over only its predicate's triples.
    """
    if not shapes:
        raise ValueError("empty shape list")
    # every shape reads the triples for its focus set and its values
    triples = reuse(triples)
    viols: list[DataFrame] = []
    out_cols = ["shape_id", "focus", "constraint_kind", "value"]

    def emit(df: DataFrame, shape_id: str, kind: str,
             value_col) -> None:
        viols.append(df.select(
            F.lit(shape_id).alias("shape_id"), "focus",
            F.lit(kind).alias("constraint_kind"),
            value_col.cast("string").alias("value")))

    for sh in shapes:
        if sh.target_class is not None:
            focus = triples.where((F.col(p_col) == type_pred)
                                  & (F.col(o_col) == sh.target_class))
        elif sh.targets is not None:
            focus = triples.where(F.col(p_col) == sh.targets)
        else:
            focus = triples
        focus = focus.select(F.col(s_col).alias("focus")).distinct()
        # lang participates in term distinctness for cardinality
        # counts ("chat"@en and "chat"@fr are two terms); the column
        # name is a parameter like kind/dt — a custom layout passing
        # only kind_col/dt_col would otherwise silently lose language
        # distinctness
        lang_col = lang_col if lang_col in triples.columns else None
        vals = (triples.where(F.col(p_col) == sh.path)
                .select(F.col(s_col).alias("focus"),
                        F.col(o_col).alias("value"),
                        F.col(kind_col).alias("_kind"),
                        F.col(dt_col).alias("_dt"),
                        (F.col(lang_col) if lang_col
                         else F.lit(None).cast("string")).alias("_lang")))
        if sh.min_count is not None or sh.max_count is not None:
            # cardinality counts distinct RDF TERMS, not lexical
            # forms: "chat"@en and "chat"@fr are two value nodes
            cnt = vals.groupBy("focus").agg(
                F.countDistinct(
                    F.struct("value", "_kind", "_dt", "_lang"))
                .alias("_n"))
            card = (focus.join(cnt, "focus", "left")
                    .withColumn("_n", F.coalesce("_n", F.lit(0))))
            if sh.min_count is not None:
                emit(card.where(F.col("_n") < sh.min_count),
                     sh.shape_id, "minCount", F.col("_n"))
            if sh.max_count is not None:
                emit(card.where(F.col("_n") > sh.max_count),
                     sh.shape_id, "maxCount", F.col("_n"))
        fvals = vals.join(focus, "focus", "semi")
        if sh.node_kind is not None:
            emit(fvals.where(F.col("_kind") != sh.node_kind),
                 sh.shape_id, "nodeKind", F.col("value"))
        if sh.datatype is not None:
            emit(fvals.where((F.col("_kind") != "literal")
                             | (F.coalesce("_dt", F.lit(XSD_STRING))
                                != sh.datatype)),
                 sh.shape_id, "datatype", F.col("value"))
        if sh.pattern is not None:
            emit(fvals.where(~F.col("value").rlike(sh.pattern)),
                 sh.shape_id, "pattern", F.col("value"))
        if sh.in_set is not None:
            emit(fvals.where(~F.col("value").isin(list(sh.in_set))),
                 sh.shape_id, "in", F.col("value"))
        if sh.value_class is not None:
            typed = (triples.where((F.col(p_col) == type_pred)
                                   & (F.col(o_col) == sh.value_class))
                     .select(F.col(s_col).alias("value")).distinct())
            bad_kind = fvals.where(F.col("_kind") != "iri")
            unlinked = (fvals.where(F.col("_kind") == "iri")
                        .join(typed, "value", "anti"))
            emit(bad_kind.unionByName(unlinked),
                 sh.shape_id, "class", F.col("value"))
    out = viols[0]
    for v in viols[1:]:
        out = out.unionByName(v)
    return out.select(*out_cols).distinct()


OWL = "http://www.w3.org/2002/07/owl#"
INVERSE_OF = OWL + "inverseOf"
SYMMETRIC_PROPERTY = OWL + "SymmetricProperty"
TRANSITIVE_PROPERTY = OWL + "TransitiveProperty"


def owl_closure(triples: DataFrame, schema: DataFrame,
                s_col: str = "subj", p_col: str = "pred",
                o_col: str = "obj_value",
                kind_col: str | None = "obj_kind",
                max_schema_rows: int = 100_000,
                max_transitive_preds: int = 16,
                max_rounds: int = 20) -> DataFrame:
    """OWL-lite property entailment: ``owl:inverseOf`` (both
    directions), ``owl:SymmetricProperty``, ``owl:TransitiveProperty``.
    Returns the ENTAILED (subj, pred, obj) triples, distinct, possibly
    overlapping the input — the same contract as ``rdfs_closure``;
    compose the two for combined RDFS+OWL reasoning.

    Scale contract mirrors ``rdfs_closure``: the schema is bounded
    (typed error above ``max_schema_rows``), so inverse pairs and the
    symmetric-property set become one broadcast join / pushed isin
    filter over the fact table — single pass, no fixpoint. Transitive
    properties are the exception: their closure lives IN the fact
    table, so each runs ``property_path`` (iterative doubling,
    log2(diameter) lineage-cut rounds). The number of transitive
    predicates is schema-bounded and capped (``max_transitive_preds``,
    typed error above) because each costs a data-side fixpoint.

    Inverse/symmetric entailment is gated to non-literal objects
    (IRIs and blank nodes both invert) when ``kind_col`` is present —
    inverting (s, p, "literal") would put a literal in subject
    position, which RDF forbids.
    """
    rows = _schema_rows(schema, (s_col, p_col, o_col), max_schema_rows,
                        "owl_closure")
    inv = {(s, o) for s, p, o in rows if p == INVERSE_OF}
    inv |= {(b, a) for a, b in inv}                     # symmetric pairs
    sym = sorted({s for s, p, o in rows
                  if p == RDF_TYPE and o == SYMMETRIC_PROPERTY})
    trans = sorted({s for s, p, o in rows
                    if p == RDF_TYPE and o == TRANSITIVE_PROPERTY})
    if len(trans) > max_transitive_preds:
        raise ValueError(
            f"{len(trans)} transitive properties exceed the "
            f"max_transitive_preds={max_transitive_preds} budget — each "
            "one costs a data-side fixpoint; raise the cap only if that "
            "is intended")
    spark = triples.sparkSession
    # read by the inverse and symmetric branches and by each transitive
    # predicate's edges
    triples = reuse(triples)
    node_facts = triples.select(
        F.col(s_col).alias("subj"), F.col(p_col).alias("pred"),
        F.col(o_col).alias("obj"))
    if kind_col is not None:
        node_facts = node_facts.where(F.col(kind_col) != "literal")
    ents: list[DataFrame] = []
    if inv:
        iv = local_frame(spark, sorted(inv), "p_fwd string, p_inv string")
        ents.append(node_facts.join(F.broadcast(iv),
                                    node_facts.pred == iv.p_fwd)
                    .select(F.col("obj").alias("subj"),
                            F.col("p_inv").alias("pred"),
                            F.col("subj").alias("obj")))
    if sym:
        ents.append(node_facts.where(F.col("pred").isin(sym))
                    .select(F.col("obj").alias("subj"), "pred",
                            F.col("subj").alias("obj")))
    # rules INTERACT on a transitive predicate: symmetry makes its
    # edge set undirected, and an inverse partner's edges are its
    # edges reversed — the closure must run over the UNION of
    # asserted + derived edges, and inverse entailments must cover
    # closure-derived pairs too (else (a p b),(b p c) ⊢ (a p c) but
    # (c q a) would be silently missing). One union per predicate
    # suffices: sym/inv are involutions and the closure of a
    # symmetric edge set is symmetric, so no mutual fixpoint is
    # needed.
    inv_partners: dict[str, list[str]] = {}
    for a, b in inv:
        inv_partners.setdefault(a, []).append(b)
    for p in trans:
        asserted = (triples.where(F.col(p_col) == p)
                    .select(F.col(s_col).alias("subj"),
                            F.lit(p).alias("pred"),
                            F.col(o_col).alias("obj_value")))
        derived = []
        if p in sym:
            derived.append(node_facts.where(F.col("pred") == p)
                           .select(F.col("obj").alias("subj"),
                                   F.lit(p).alias("pred"),
                                   F.col("subj").alias("obj_value")))
        for q in inv_partners.get(p, ()):
            derived.append(node_facts.where(F.col("pred") == q)
                           .select(F.col("obj").alias("subj"),
                                   F.lit(p).alias("pred"),
                                   F.col("subj").alias("obj_value")))
        edges = asserted
        for d in derived:
            edges = edges.unionByName(d)
        if derived:
            edges = edges.distinct()
        clo = property_path(edges, p, max_rounds=max_rounds)
        ents.append(clo.select(F.col("src").alias("subj"),
                               F.lit(p).alias("pred"),
                               F.col("dst").alias("obj")))
        for q in inv_partners.get(p, ()):
            # inverse entailments over the CLOSURE, not just asserted
            ents.append(clo.select(F.col("dst").alias("subj"),
                                   F.lit(q).alias("pred"),
                                   F.col("src").alias("obj")))
    if not ents:
        return node_facts.select("subj", "pred", "obj").limit(0)
    out = ents[0]
    for e in ents[1:]:
        out = out.unionByName(e)
    return out.distinct()


def ask(triples: DataFrame, patterns: list[tuple[str, str, str]],
        not_exists: list[list[tuple[str, str, str]]] | None = None,
        exists: list[list[tuple[str, str, str]]] | None = None,
        minus: list[list[tuple[str, str, str]]] | None = None,
        filters: list[str] | None = None,
        values: list[dict[str, str | None]] | None = None,
        s_col: str = "subj", p_col: str = "pred",
        o_col: str = "obj_value", g_col: str = "graph",
        meta_vars: set | None = None) -> bool:
    """SPARQL ASK: does at least one solution exist? Planned as the
    same join tree as ``bgp_match`` under a ``limit(1)`` — Spark stops
    the scan at the first produced row (LocalLimit short-circuit), so
    an ASK over 100 TB that matches early reads almost nothing.
    All-constant patterns (``ASK { <s> <p> <o> }`` — the primary SPARQL
    ASK idiom) are the join tree's existence gates: one pushed-filter
    ``limit(1)`` probe per pattern (a constant path pattern probes its
    closure over its GRAPH's edges only). One pattern is read like any
    other scan under the ``limit(1)``; two or more gates are
    cross-joined, and each gate's limit then runs on every partition of
    its scan, stopping each at its first match."""
    g = _as_group({"patterns": patterns, "not_exists": not_exists,
                   "exists": exists, "minus": minus, "filters": filters,
                   "values": values}, "query")
    return bool(_match(triples, g, (s_col, p_col, o_col, g_col), meta_vars,
                       False).limit(1).take(1))


SAME_AS = OWL + "sameAs"


def same_as_fuse(triples: DataFrame,
                 s_col: str = "subj", p_col: str = "pred",
                 o_col: str = "obj_value", kind_col: str = "obj_kind",
                 keep_same_as: bool = False) -> DataFrame:
    """Fuse coreferent entities declared via ``owl:sameAs``: derive
    equivalence edges from the sameAs triples (non-literal on both
    sides — a literal cannot be sameAs-merged), resolve them to
    connected components (chains A=B, B=C collapse even when A and C
    never co-occur in one triple), and rewrite every subject and
    non-literal object to its component-canonical id (the minimum —
    deterministic). The classic KG-construction step that turns "the
    same real-world entity under three IRIs" into one node.

    The sameAs triples themselves are consumed (dropped) unless
    ``keep_same_as`` — after fusion they would all be the reflexive
    (c, sameAs, c). Output is distinct: triples that referred to two
    aliases of one entity collapse to a single row.

    Scale shape: the equivalence edge set is tiny next to the corpus
    (sameAs assertions are per-entity, not per-mention), so
    ``connected_components`` takes its small-graph union-find path (or
    the distributed min-label fixpoint above 10^6 edges) and
    ``link_triples`` broadcasts the component map when it fits —
    two broadcast left joins over the fact table, one pass.
    """
    from .linking import connected_components, link_triples
    # read by the equivalence edges and the rewrite
    triples = reuse(triples)
    edges = (triples
             .where((F.col(p_col) == SAME_AS)
                    & (F.col(kind_col) != "literal"))
             .select(F.col(s_col).alias("src"), F.col(o_col).alias("dst")))
    cc = connected_components(edges)
    facts = triples if keep_same_as \
        else triples.where(F.col(p_col) != SAME_AS)
    # link_triples reads the default column names (subj/obj_value/
    # obj_kind) — rename around the call for custom layouts
    ren = [(s_col, "subj"), (o_col, "obj_value"), (kind_col, "obj_kind")]
    renamed = [(a, b) for a, b in ren if a != b]
    for a, b in renamed:
        facts = facts.withColumnRenamed(a, b)
    fused = link_triples(facts, cc, rewrite_kinds=("iri", "bnode"))
    for a, b in renamed:
        fused = fused.withColumnRenamed(b, a)
    # the rewrite joins move the key columns first — restore the
    # caller's column order
    return fused.select(*triples.columns).distinct()


def describe(triples: DataFrame, node: str,
             s_col: str = "subj", p_col: str = "pred",
             o_col: str = "obj_value") -> DataFrame:
    """SPARQL DESCRIBE (symmetric concise form): every triple where the
    node is subject or object, plus the ``role`` it plays per row. One
    scan, two pushed-down equality filters OR-ed — no join."""
    return describe_nodes(triples, [node], s_col=s_col, p_col=p_col,
                          o_col=o_col)


def describe_nodes(triples: DataFrame, nodes: DataFrame | list[str],
                   node_col: str = "node", s_col: str = "subj",
                   p_col: str = "pred",
                   o_col: str = "obj_value") -> DataFrame:
    """SPARQL DESCRIBE over a SET of nodes (``DESCRIBE ?x WHERE ...``
    or a multi-IRI DESCRIBE): every triple whose subject or object is
    in the node set, with the role per row; a triple relating two
    described nodes appears once per role, and a self-loop once, as
    subject.

    A list of constant IRIs (``DESCRIBE <a> <b>``) filters one scan:
    pushed-down IN filters OR-ed, no join (for one node the optimizer
    turns them into equality filters). A node DataFrame stays
    distributed (no driver collect): two semi-joins against it
    (subject side, object side), unioned. Catalyst/AQE broadcasts
    the node set when it is small, which it almost always is."""
    if isinstance(nodes, list):
        s_in = F.col(s_col).isin(nodes)
        o_in = F.col(o_col).isin(nodes)
        role = F.when(s_in, "subject").otherwise("object")
        if len(nodes) > 1:
            # with one node, both ends described is a self-loop: once
            role = F.explode(
                F.when(s_in & o_in & (F.col(s_col) != F.col(o_col)),
                       F.array(F.lit("subject"), F.lit("object")))
                .otherwise(F.array(role)))
        return triples.where(s_in | o_in).withColumn("role", role)
    triples = reuse(triples)  # read by both roles
    n = nodes.select(F.col(node_col).alias("_n")).distinct()
    subj_side = (triples.join(n, F.col(s_col) == F.col("_n"), "semi")
                 .withColumn("role", F.lit("subject")))
    # a self-loop on a described node yields only the subject row,
    # matching single-node describe's when/otherwise
    obj_side = (triples.where(F.col(s_col) != F.col(o_col))
                .join(n, F.col(o_col) == F.col("_n"), "semi")
                .withColumn("role", F.lit("object")))
    return subj_side.unionByName(obj_side)
