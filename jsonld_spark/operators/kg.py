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
* ``rdfs_closure`` — the ontology (schema) is corpus-INDEPENDENT and
  small (10^3-10^5 rows for real ontologies), so its transitive
  closure is computed once driver-side and applied to the 100 TB fact
  table as broadcast-join expansions: one pass, no fixpoint over the
  data. The classic trap — iterating rdfs9 over the full triple table
  — is avoided by closing the schema first (closure(schema) applied
  once is equivalent to the RDFS fixpoint for these rules).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# every key a group-entry dict (optional= / not_exists= / exists= /
# minus= parameter forms) may carry; anything else raises. Without
# this, a front-end compile gap — e.g. an un-compiled 'subqueries'
# AST list riding in an entry — would be silently IGNORED, turning a
# missing feature into wrong results instead of an error (exactly the
# bug a review pass found in round 5).
_GROUP_ENTRY_KEYS = frozenset((
    "patterns", "filters", "union", "branch_filters", "binds",
    "optional", "not_exists", "exists", "minus", "values",
    "solution_joins"))


_UNION_ENTRY_KEYS = frozenset(
    ("union", "filters", "branch_filters", "binds"))


def _check_entry_keys(entry, where: str) -> None:
    if isinstance(entry, dict):
        unknown = sorted(set(entry) - _GROUP_ENTRY_KEYS)
        if unknown:
            raise ValueError(
                f"{where}: unknown group-entry key(s) {unknown} — "
                "supported keys are "
                f"{sorted(_GROUP_ENTRY_KEYS)}; an un-compiled "
                "'subqueries' AST list must be compiled into "
                "'solution_joins' first (the SPARQL front-end does "
                "this; direct callers pass solution-join dicts)")
        if "union" in entry:
            # a union-body entry takes only union-compatible keys —
            # coexisting 'patterns'/'optional'/negation keys would be
            # silently IGNORED by the union dispatch otherwise
            extra = sorted(set(entry) - _UNION_ENTRY_KEYS)
            if extra:
                raise ValueError(
                    f"{where}: a 'union' entry cannot also carry "
                    f"{extra} — a union body takes only "
                    f"{sorted(_UNION_ENTRY_KEYS)}; wrap the union in "
                    "its own group or lift the other members")
        if "branch_filters" in entry:
            nb = len(entry.get("union") or [])
            if len(entry["branch_filters"]) != nb:
                raise ValueError(
                    f"{where}: branch_filters has "
                    f"{len(entry['branch_filters'])} entries for "
                    f"{nb} union branches — they must parallel")
        if "union" not in entry and "patterns" not in entry:
            # every non-union dict entry needs the key, even as an
            # empty list (solution_joins seeding a pattern-less
            # group) — a bare KeyError here would be an untyped crash
            raise ValueError(
                f"{where}: a group-entry dict needs a 'patterns' key "
                "(an empty list is legal when solution_joins seed "
                "the group)")
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


def _group_entry_vars(entry) -> set[str]:
    """Every variable a [NOT] EXISTS / EXISTS / MINUS group entry
    references — pattern variables plus group-filter identifiers,
    recursing through nested-body keys (inner negations, BINDs,
    VALUES, inner OPTIONALs). Entry forms mirror the ``not_exists=``
    parameter: a pattern list, a ``{'patterns', 'filters'}`` dict
    (optionally with nested-body keys), or a ``{'union': ...}``
    dict."""
    if isinstance(entry, dict):
        if "union" in entry:
            pats = [p for branch in entry["union"] for p in branch]
        else:
            pats = entry.get("patterns", [])
        vs = _pattern_tuple_vars(pats)
        for fexpr in entry.get("filters", []):
            vs |= _expr_identifiers(fexpr)
        for bfl in entry.get("branch_filters", []):
            for fexpr in bfl:
                vs |= _expr_identifiers(fexpr)
        for k in ("not_exists", "exists", "minus"):
            for inner in entry.get(k, []):
                vs |= _group_entry_vars(inner)
        for bv, bexpr in entry.get("binds", []):
            vs |= {bv} | _expr_identifiers(bexpr)
        for row in entry.get("values", []):
            vs |= set(row)
        for inner in entry.get("optional", []):
            vs |= _optional_entry_vars(inner)
        for sj in entry.get("solution_joins", []):
            sjdf = sj["df"] if isinstance(sj, dict) else sj
            vs |= set(sjdf.columns)
        return vs
    if entry and isinstance(entry[0], (list, tuple)):
        return _pattern_tuple_vars(entry)
    return _pattern_tuple_vars([entry])


def _optional_entry_vars(entry) -> set[str]:
    """Every variable an ``optional=`` entry can BIND — through its
    patterns, UNION branches, nested OPTIONALs (recursively), group
    BINDs, and VALUES rows. (Negation groups bind nothing.)"""
    if isinstance(entry, dict):
        vs: set[str] = set()
        if "union" in entry:
            vs |= _pattern_tuple_vars(
                [p for branch in entry["union"] for p in branch])
        vs |= _pattern_tuple_vars(entry.get("patterns", []))
        for inner in entry.get("optional", []):
            vs |= _optional_entry_vars(inner)
        vs |= {v for v, _ in entry.get("binds", [])}
        for row in entry.get("values", []):
            vs |= set(row)
        for sj in entry.get("solution_joins", []):
            sjdf = sj["df"] if isinstance(sj, dict) else sj
            vs |= set(sjdf.columns)
        return vs
    if entry and isinstance(entry[0], (list, tuple)):
        return _pattern_tuple_vars(entry)
    return _pattern_tuple_vars([entry])


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
    import re as _re
    ids: set[str] = set()
    parts = _re.split(
        r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")", expr)
    for j in range(0, len(parts), 2):
        s = parts[j]
        ids |= set(_re.findall(r"`([^`]+)`", s))
        s = _re.sub(r"`[^`]*`", " ", s)
        s = _re.sub(r"(?i)\bas\s+\w+(\s*\(\s*\d+[\d\s,]*\))?", " ", s)
        ids |= {w for m in _re.finditer(
                    r"\b([A-Za-z_]\w*)\b(?!\s*\()", s)
                if (w := m.group(1)).lower() not in _SQL_WORDS}
    return ids


def _rewrite_refs(expr: str, mapping: dict[str, str]) -> str:
    """Rename variable references in a SQL expression string — both
    backtick-quoted and bare occurrences — without touching single-
    or double-quoted string literals. Used to point a correlated group
    filter's group-variable references at the join's renamed right
    side."""
    import re as _re
    parts = _re.split(
        r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")", expr)
    for j in range(0, len(parts), 2):
        s = parts[j]
        for old, new in mapping.items():
            s = s.replace(f"`{old}`", f"`{new}`")
            s = _re.sub(rf"(?<![\w`]){_re.escape(old)}(?![\w`])", new, s)
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
    import re as _re
    parts = _re.split(
        r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")", expr)
    for j in range(0, len(parts), 2):
        s = parts[j]
        for n in names:
            s = s.replace(f"`{n}`", "NULL")
            # skip function-call position: a bare identifier followed
            # by '(' is a SQL function whose name happens to equal the
            # variable (e.g. outer var ?abs vs abs(...)) — backticked
            # references already disambiguate the variable case
            s = _re.sub(
                rf"(?<![\w`]){_re.escape(n)}(?![\w`])(?!\s*\()",
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
    """Match a SPARQL-style basic graph pattern: ``patterns`` is a list
    of (subject, predicate, object) terms where a term starting with
    ``?`` is a variable and anything else a constant. A 4-tuple
    pattern (s, p, o, g) additionally matches the named-graph column —
    the SPARQL GRAPH clause (``g_col`` is only touched by 4-tuples, so
    graph-less triple frames work with 3-tuples). Returns one column
    per variable (first-appearance order), one row per binding.
    ``optional`` patterns are SPARQL OPTIONAL clauses: each left-joins
    on its shared variables, binding its new variables where it
    matches and null where it doesn't (rows are never dropped). An
    entry that is itself a LIST of patterns is a multi-pattern
    OPTIONAL group — SPARQL evaluates the group as a unit (patterns
    inner-join among themselves, and must connect), then left-joins
    the joined group, so a partial group match binds nothing. An
    entry that is a DICT ``{'patterns': [...], 'filters': [...]}``
    additionally applies group-scoped FILTER expressions — SPARQL
    leftjoin's expr argument. A filter referencing only group
    variables pre-filters the group's solutions (equivalent per the
    leftjoin definition); a filter referencing OUTER variables
    conditions the join itself (``LeftJoin(Ω1, Ω2, expr)``): it
    compiles to the left join's residual condition with equi keys on
    the shared variables, so a group row failing the filter is
    as-if absent for that outer solution only, and an erroring
    (null) filter follows SPARQL's error-is-false rule. Correlated
    filters over NULLABLE shared variables, or combined with
    term-metadata columns on the optional side, raise. A dict entry
    ``{'union': [branch, ...], 'filters': [...]}`` is
    ``OPTIONAL { { A } UNION { B } }`` — algebra LeftJoin(rest,
    Union(A, B)): the branches' solution union (missing variables
    null-padded) left-joins on the shared variables; a shared
    variable not bound by EVERY branch raises (an unbound optional-
    side join key would silently never match). A dict entry with an
    ``'optional'`` key — ``{'patterns': [...], 'optional': [...],
    'filters': [...]}`` — is a NESTED OPTIONAL: the group's solution
    set is a recursive ``bgp_match`` over its patterns and inner
    optionals (LeftJoin inside the optional side, nesting to any
    depth), group filters apply to those solutions, then the whole
    group left-joins the outer solutions. A variable bound only by
    an inner optional is nullable in the group's solutions; using it
    as the outer left-join key raises (same null-key rule as union
    bodies). Any dict entry may also carry a ``'binds'`` key — an
    ordered ``[(var, spark_sql_expr)]`` list applied to the group's
    solutions BEFORE the group filters (SPARQL Extend inside the
    optional group); a bind variable is nullable on the optional side
    (its expression may evaluate to null), so using it as the outer
    join key raises the same typed error. A dict entry may further
    carry ``'not_exists'`` / ``'exists'`` / ``'minus'`` (group entries
    in this parameter's own forms), ``'values'``, and
    ``'solution_joins'`` (pre-compiled subquery entries in the
    top-level parameter's form) keys — the full group body compiles
    through a recursive ``bgp_match`` on the optional side; a negation
    member referencing an OUTER-only variable raises (correlation with
    the outer solutions would need a conditional left join).
    Sequential OPTIONALs follow SPARQL's unbound-is-compatible rule:
    when a later OPTIONAL shares a variable that an EARLIER
    non-matching OPTIONAL left unbound (null), that solution is
    compatible with ANY binding of the variable, and a match binds it
    (per-solution bind-once). Internally the solution set splits by
    the null-mask of the nullable shared variables — each branch is
    still a plain equi-join on its non-null keys (the all-null branch
    is the SPARQL-mandated unconstrained match) and the branches union
    back; with no nullable shared variable (every shared var comes
    from a required pattern — the overwhelmingly common case) the plan
    is a single left join, unchanged. More than 4 nullable shared
    variables in one clause (16 branches) raises rather than exploding
    the plan.
    ``not_exists`` groups are SPARQL ``FILTER NOT EXISTS`` clauses:
    each group (a pattern list) drops every solution for which the
    group matches under the solution's bindings — an anti-join on the
    variables the group shares with the outer query. A group may also
    be a dict ``{'patterns': [...], 'filters': [...]}``: filters
    referencing only group variables pre-filter the group's
    solutions; filters referencing outer variables follow SPARQL's
    substitution semantics (the classic temporal
    ``FILTER NOT EXISTS { ?x :date ?d2 FILTER(?d2 > ?d) }``) and
    become the residual condition of the anti/semi join — the equi
    keys on shared variables keep it hash/sort-merge plannable. In a
    ``minus`` group a correlated filter references a variable UNBOUND
    inside the group (MINUS does not substitute, SPARQL §8.3.3), so
    the expression errors, the group is empty, and the MINUS is
    faithfully a no-op. A group may also be a dict ``{'union':
    [branch, ...], 'filters': [...]}`` — the body is ``{ A } UNION
    { B }``. NOT EXISTS and MINUS distribute over UNION (NOT
    EXISTS{A∪B} ≡ NOT EXISTS{A} AND NOT EXISTS{B}; MINUS removals
    union), so each branch becomes its own group through the
    unchanged compat/substitution machinery. EXISTS over UNION is an
    OR — not expressible as chained semi joins — and plans as one
    left join per branch against the branch's DISTINCT shared-key
    set with a marker column (unique keys: no row multiplication),
    keeping solutions with any marker set; correlated filters or
    nullable shared variables there raise typed errors. A union-dict
    filter must reference only variables bound by EVERY branch (or
    outer variables): distributed into a branch that does not bind
    its variable it would be a type error → false, silently emptying
    just that branch. A shared variable
    the solution left unbound (null, from a non-matching OPTIONAL)
    follows SPARQL's substitution semantics: it stays a FREE variable
    inside the group, so the group constrains only the solution's
    BOUND shared variables (anti-join key = non-null shared vars,
    per null-mask branch; a solution with ALL shared vars unbound is
    dropped iff the group matches at all). Group patterns must connect
    to each other and the group must share at least one variable with
    the outer query (else it is not a per-solution test).
    ``filters`` are SPARQL FILTER expressions as Spark SQL boolean
    strings over the variable names (e.g. ``"cast(n as int) >= 300"``),
    applied after all patterns. Like SPARQL's error-drops-the-solution
    rule, a comparison against an unbound (null) optional variable is
    null and the row is dropped — test for boundness explicitly with
    ``"x IS NULL"`` / ``"x IS NOT NULL"``. Filters referencing only
    required variables are pushed down through the joins by Catalyst.

    DEVIATION — lexical join identity: patterns join on the VALUE
    columns, so a literal whose lexical form equals an IRI (e.g. a
    URL-valued string literal) unifies with that IRI where SPARQL's
    term semantics would not. Web-data queries where this matters
    should add an explicit kind filter (``filters=["x__kind =
    'iri'"]`` with ``meta_vars``) or pre-filter ``obj_kind`` on the
    triples frame; making every join key a (value, kind) struct would
    double the shuffled key width for a case that clean warehouse
    data does not hit, so it is deliberately not the default.

    Plan shape: each pattern is a filtered projection of the triples
    scan — constants become pushed-down filters (``PushedFilters`` on
    the parquet scan; predicate partition pruning when the table is
    laid out that way) — and patterns sharing a variable join on it.
    Join ORDER is left to Catalyst/AQE: selective patterns produce
    small sides that AQE converts to broadcast joins at runtime.
    Patterns (required or optional) that share no variable with what
    came before would be a cartesian product; that is almost always a
    query bug at scale, so it raises instead of silently exploding.
    Two exceptions: an ALL-CONSTANT required pattern is a legal SPARQL
    existence test — it gates the whole result (cross join with a
    ``limit(1)`` probe: one row keeps everything, zero rows empties
    the result) and binds nothing; and an OPTIONAL entry that binds NO
    variable in any form (constant pattern, group, union, negation /
    filter members) is a no-op per the algebra — LeftJoin(Ω, {μ0}) =
    LeftJoin(Ω, ∅) = Ω — and is skipped entirely.

    ``values`` is a SPARQL VALUES block: a list of binding dicts
    ({var: constant}, ``None`` = UNDEF) joined to the solution set
    after patterns and OPTIONALs. Shared variables constrain
    (inner-join on them; an UNDEF in a row makes that variable
    unconstrained for that row, per SPARQL's compatible-bindings
    rule); variables new to the query extend the solutions. A VALUES
    block is a literal inline table — always tiny — so it is planned
    as a broadcast join (or a cross join when it shares no variable,
    which SPARQL permits for VALUES).
    ``filter_exists`` entries are FILTERs whose expression EMBEDS
    [NOT] EXISTS tests (``FILTER(?x = 1 || EXISTS { ... })``): each is
    ``{'expr': sql, 'markers': [(name, group_entry, negated), ...]}``
    where ``expr`` references each ``name`` as a boolean column. A
    marker joins the group's DISTINCT shared-key set with a flag (no
    row multiplication) — EXISTS as a VALUE in a boolean expression
    cannot become a semi/anti join. Nullable shared variables and
    correlated group filters raise (use a standalone FILTER EXISTS).
    ``binds`` are SPARQL BIND clauses: an ordered list of
    (new_var, spark_sql_expr) computed over the bindings after
    VALUES, before NOT EXISTS and FILTERs — e.g.
    ``[("label", "upper(name)")]``. Later binds may reference earlier
    ones. Pure projections — zero shuffle.
    ``exists`` groups are positive ``FILTER EXISTS`` clauses — the
    semi-join mirror of ``not_exists``: a solution survives iff the
    group matches under its bindings (must share ≥1 variable).
    ``solution_joins`` are pre-computed solution sets (the algebra
    form of a SPARQL 1.1 subquery): each entry is a DataFrame whose
    columns are variable names — or a dict ``{'df': DataFrame,
    'nullable': set, 'allow_disjoint': bool}`` — inner-joined to the
    solutions on the shared variables right after the required
    patterns (so OPTIONAL / VALUES / BIND / FILTER can reference the
    variables a subquery binds). ``patterns`` may be empty when a
    solution join seeds the solutions. Disjoint (no shared variable)
    entries require ``allow_disjoint`` and broadcast — the scalar
    aggregate-subquery idiom; nullable shared variables raise.
    ``meta_vars`` requests TERM METADATA for the named variables: the
    first pattern binding such a variable also emits
    ``{var}__kind`` / ``{var}__lang`` / ``{var}__datatype`` columns
    (object positions read the frame's obj_kind/obj_lang/obj_datatype
    columns — required to exist; subject/graph/path positions derive
    kind from the ``_:`` prefix; predicates are IRIs). These feed
    SPARQL's LANG() / DATATYPE() / isIRI() / isLiteral() / isBlank()
    in ``filters``/``binds``, ride along every join, and participate
    in the solution dedup (distinctness becomes RDF *term* identity
    for those variables — literals differing only in language stay
    distinct). The metadata columns remain in the output for the
    caller to consume or drop.
    ``minus`` groups are SPARQL MINUS: like NOT EXISTS an anti-join on
    the shared variables, EXCEPT that a group sharing NO variable with
    the outer query removes nothing (SPARQL §8.3.3: disjoint domains
    are never compatible) — where NOT EXISTS would raise, MINUS is a
    legal no-op. A shared variable the solution left unbound (null) is
    compatible with any group binding, so per §8.3.3 the anti-join key
    is the solution's BOUND shared variables only; a solution whose
    shared variables are ALL unbound has a disjoint bound domain and
    survives. (Same null-mask branching as OPTIONAL; single anti-join
    when no shared variable is nullable.)
    """
    sjoins = []
    for entry in solution_joins or []:
        if isinstance(entry, DataFrame):
            entry = {"df": entry}
        sjoins.append({
            "df": entry["df"],
            "nullable": set(entry.get("nullable") or ()),
            "allow_disjoint": bool(entry.get("allow_disjoint", False)),
        })
    if not patterns and not sjoins:
        raise ValueError("empty pattern list")
    pos_cols = (s_col, p_col, o_col, g_col)
    out: DataFrame | None = None
    bound: list[str] = []
    # vars that may be unbound (null) in some solutions: introduced by
    # an OPTIONAL, an UNDEF VALUES cell, or a BIND expression. Joining
    # on one of these later needs the unbound-compatibility branches.
    nullable: set[str] = set()
    gates: list[DataFrame] = []
    # term-metadata plumbing: the FIRST pattern binding a requested
    # variable also emits its {var}__kind/__lang/__datatype columns
    # (mv_pending shrinks as vars are served, so no later duplicate)
    mv_pending: set[str] = set(meta_vars or ())
    meta_bound: list[str] = []
    _mcols = {"kind": "obj_kind", "lang": "obj_lang",
              "datatype": "obj_datatype"}
    meta_cols = _mcols if all(c in triples.columns
                              for c in _mcols.values()) else None

    def _note_meta(step_vars: list[str]) -> None:
        for v in step_vars:
            if v in mv_pending:
                mv_pending.discard(v)
                meta_bound.extend(f"{v}{s}" for s in META_SUFFIXES)

    for i, pat in enumerate(patterns):
        step, step_vars = _pattern_step(
            triples, pat, i, pos_cols,
            meta_vars=frozenset(mv_pending), meta_cols=meta_cols)
        if not step_vars:
            # all-constant pattern: existence gate, binds nothing.
            # limit(1) short-circuits the scan at the first match.
            gates.append(step.limit(1).select(F.lit(1).alias(f"_g{i}")))
            continue
        if out is None:
            out, bound = step, step_vars
            _note_meta(step_vars)
            continue
        shared = [v for v in step_vars if v in bound]
        if not shared:
            raise ValueError(
                f"pattern {i} shares no variable with earlier patterns "
                "— a cartesian product; reorder or constrain the query")
        out = out.join(step, shared)
        bound += [v for v in step_vars if v not in bound]
        _note_meta(step_vars)
    if out is None and not sjoins:
        raise ValueError(
            "all patterns are constant — use ask() for a pure "
            "existence test; bgp_match needs at least one variable")
    # required bindings are set-distinct BEFORE optionals so an input
    # with duplicate triples cannot multiply optional matches.
    # distinct_solutions=False skips the exchange for warehouse tables
    # already deduplicated at materialization (materialize_graph
    # guarantees this) — SPARQL SELECT bag semantics; on deduped input
    # both modes agree. The default (True) is SELECT DISTINCT — a
    # documented deviation the property tests rely on.
    if out is not None:
        # meta columns ride along the dedup: distinct over
        # value+kind+lang+datatype is RDF TERM distinctness for the
        # metadata-requested vars (two literals differing only in
        # language stay distinct solutions, per SPARQL)
        out = out.select(*bound, *meta_bound)
        if distinct_solutions:
            out = out.distinct()
    # solution joins (SPARQL 1.1 subqueries / pre-computed solution
    # sets): each entry is a DataFrame whose columns ARE variable
    # names — the algebra Join of the group's BGP with the subquery's
    # (already-projected) solutions. Joined on the shared variables;
    # new variables extend the solutions. A disjoint entry (no shared
    # variable) is a cartesian product — legal SPARQL but a scale
    # hazard, so it requires allow_disjoint=True (the front-end sets
    # it for scalar-aggregate subqueries, which produce exactly one
    # row and broadcast). Shared variables must be non-nullable on
    # BOTH sides — SPARQL's unbound-compatibility branching for
    # subquery joins is out of scope (bind the variable in a required
    # pattern instead); violating entries raise.
    for si, sj in enumerate(sjoins):
        sdf = sj["df"]
        svars = list(sdf.columns)
        if out is None:
            out, bound = sdf, svars
            nullable |= sj["nullable"]
            continue
        shared = [v for v in svars if v in bound]
        new = [v for v in svars if v not in bound]
        bad = [v for v in shared
               if v in nullable or v in sj["nullable"]]
        if bad:
            raise ValueError(
                f"solution join {si}: shared variables {bad} may be "
                "unbound (null) — joining a subquery on a nullable "
                "variable is not supported; bind it in a required "
                "pattern")
        if shared:
            out = out.join(sdf, shared)
        elif sj["allow_disjoint"]:
            # scalar-subquery idiom (e.g. SELECT (MAX(?d) AS ?m)):
            # exactly-one-row side, broadcast to every solution
            out = out.crossJoin(F.broadcast(sdf))
        else:
            raise ValueError(
                f"solution join {si} shares no variable with the "
                "outer query — a cartesian product; pass "
                "allow_disjoint=True only for provably tiny sides")
        bound += new
        nullable |= {v for v in new if v in sj["nullable"]}
    for g in gates:
        out = out.crossJoin(g).drop(g.columns[0])

    def _group_solutions(group: list, gi: int,
                         kind: str) -> tuple[DataFrame, list[str]]:
        if not group:
            raise ValueError(f"{kind} group {gi} is empty")
        inner: DataFrame | None = None
        gbound: list[str] = []
        ggates: list[DataFrame] = []
        for i, pat in enumerate(group):
            step, step_vars = _pattern_step(triples, pat, i, pos_cols)
            if not step_vars:
                # all-constant pattern inside the group: a legal
                # SPARQL existence gate — same limit(1) probe shape
                # as the required-pattern loop
                ggates.append(step.limit(1).select(
                    F.lit(1).alias(f"_gg{gi}_{i}")))
                continue
            if inner is None:
                inner, gbound = step, step_vars
                continue
            shared = [v for v in step_vars if v in gbound]
            if not shared:
                raise ValueError(
                    f"{kind} group {gi} pattern {i} shares no "
                    "variable with earlier group patterns — a cartesian "
                    "product; reorder or constrain the group")
            inner = inner.join(step, shared)
            gbound += [v for v in step_vars if v not in gbound]
        if inner is None:
            # every pattern constant: a zero-variable group. The
            # per-kind callers decide — MINUS over a disjoint domain
            # removes nothing (§8.3.3), EXISTS/NOT EXISTS raise their
            # shares-no-variable error. Return the probe frame
            # (contents irrelevant: gbound is empty).
            inner = ggates[0]
            for gg in ggates[1:]:
                inner = inner.crossJoin(gg)
            return inner, gbound
        for gg in ggates:
            inner = inner.crossJoin(gg).drop(gg.columns[0])
        return inner, gbound

    for i, pat in enumerate(optional or []):
        _check_entry_keys(pat, f"optional entry {i}")
        if not _optional_entry_vars(pat):
            # an OPTIONAL entry binding NO variable (all-constant
            # pattern / group / union, in any entry form) is a legal
            # SPARQL no-op: the group's solutions are {μ0} or ∅, and
            # LeftJoin(Ω, {μ0}) = LeftJoin(Ω, ∅) = Ω — skip before
            # planning anything
            continue
        union_nullable: set[str] = set()
        group_filters: list[str] = []
        group_binds: list[tuple[str, str]] = []
        if isinstance(pat, dict) and "union" in pat:
            # OPTIONAL { { A } UNION { B } }: SPARQL algebra
            # LeftJoin(rest, Union(A, B)). The union's solution set
            # (each branch an independent join tree, missing vars
            # null-padded) becomes the optional side. A variable not
            # bound by EVERY branch is unbound (null) in some rows —
            # legal as a NEW variable, but as the left-join KEY it
            # would need right-side unbound-compatibility branching,
            # which is out of scope: raise instead of mis-joining.
            step = bgp_union(triples, pat["union"], s_col=s_col,
                             p_col=p_col, o_col=o_col, g_col=g_col,
                             distinct=False,
                             branch_filters=pat.get("branch_filters"))
            step_vars = list(step.columns)
            per_branch = [{t[1:] for p3 in branch for t in p3
                           if isinstance(t, str) and t.startswith("?")}
                          for branch in pat["union"]]
            union_nullable = set.union(*per_branch) \
                - set.intersection(*per_branch)
            group_filters = pat.get("filters", [])
            group_binds = pat.get("binds", [])
        elif isinstance(pat, dict) and any(
                k in pat for k in ("optional", "not_exists", "exists",
                                   "minus", "values",
                                   "solution_joins")):
            # a full group body on the optional side: nested OPTIONALs,
            # [NOT] EXISTS / MINUS negation, and in-group VALUES all
            # compile through a recursive bgp_match (LeftJoin / anti /
            # semi / compat joins inside the optional side — any
            # nesting depth), then the group left-joins the outer
            # solutions as a unit. A var bound only by an inner
            # optional / UNDEF-able VALUES is nullable in the group's
            # solutions, so as the outer join key it would silently
            # never match — flagged nullable and checked below exactly
            # like a not-every-branch union var. Negation-group /
            # VALUES members referencing an OUTER-only variable would
            # need correlation with the outer solutions (a conditional
            # left join) — typed refusal, checked before recursing so
            # the error names the variables instead of surfacing as an
            # unresolved-column AnalysisException.
            group_vs = _optional_entry_vars(pat)
            for kind in ("not_exists", "exists", "minus"):
                for gentry in pat.get(kind, []):
                    ev = _group_entry_vars(gentry)
                    outer_vs = ev & set(bound) - group_vs
                    if outer_vs:
                        raise ValueError(
                            f"optional group {i} {kind.upper()} "
                            f"references outer variables "
                            f"{sorted(outer_vs)} — only group "
                            "variables are supported inside OPTIONAL "
                            "group bodies (outer references would "
                            "need a conditional left join)")

            # INNER-optional filters get the same typed pre-check:
            # inside the recursion the top query's vars are not in
            # scope, so an outer reference there would otherwise die
            # in analysis as an opaque unresolved-column error (the
            # conditional-left-join compilation only applies at THIS
            # level's group filters, not inside the recursion)
            def _walk_inner_opt(entries, depth_label):
                for ie in entries:
                    if not isinstance(ie, dict):
                        continue
                    for fexpr in ie.get("filters", []):
                        outer_vs = {x for x in _expr_identifiers(fexpr)
                                    if x in bound and x not in group_vs}
                        if outer_vs:
                            raise ValueError(
                                f"optional group {i} {depth_label} "
                                f"filter {fexpr!r} references outer "
                                f"variables {sorted(outer_vs)} — a "
                                "nested OPTIONAL's filter sees only "
                                "the group's own variables")
                    _walk_inner_opt(ie.get("optional", []),
                                    "nested-OPTIONAL")
            _walk_inner_opt(pat.get("optional", []), "inner-OPTIONAL")
            # group BINDs go INTO the recursion: bgp_match applies
            # binds before its negation joins, so a [NOT] EXISTS /
            # MINUS member referencing a bind variable correlates on
            # the BOUND value (SPARQL evaluates the group's filters
            # over the Extended group). Outer references still raise
            # here, typed, before the recursion can die on an
            # unresolved column
            for _bv, bexpr in pat.get("binds", []):
                outer_vs = {x for x in _expr_identifiers(bexpr)
                            if x in bound and x not in group_vs}
                if outer_vs:
                    raise ValueError(
                        f"optional group {i} BIND {bexpr!r} references "
                        f"outer variables {sorted(outer_vs)} — only "
                        "group variables are supported in OPTIONAL "
                        "group BINDs (outer references would need a "
                        "conditional left join)")
            # distinct_solutions=False: the outer loop dropDuplicates
            # the group's solutions just below (the dedup the left
            # join requires) — the recursive call's own final distinct
            # would be a second, redundant exchange
            step = bgp_match(triples, pat["patterns"],
                             optional=pat.get("optional"),
                             not_exists=pat.get("not_exists"),
                             exists=pat.get("exists"),
                             minus=pat.get("minus"),
                             values=pat.get("values"),
                             binds=pat.get("binds"),
                             solution_joins=pat.get("solution_joins"),
                             distinct_solutions=False,
                             s_col=s_col, p_col=p_col, o_col=o_col,
                             g_col=g_col)
            step_vars = list(step.columns)
            reqset = _pattern_tuple_vars(pat["patterns"])
            union_nullable = set(step_vars) - reqset
            # vars other nullable sources (inner optionals, group
            # binds) can produce stay conservatively nullable below
            other = {v for inner in pat.get("optional", [])
                     for v in _optional_entry_vars(inner)}
            other |= {v for v, _ in pat.get("binds", [])}
            # a VALUES var with no UNDEF cell (present and non-null in
            # EVERY row) is provably non-null in the group's solutions
            # — safe as the outer join key
            vals = pat.get("values") or []
            if vals:
                safe = {v for v in set().union(*[set(r) for r in vals])
                        if all(row.get(v) is not None for row in vals)}
                union_nullable -= (safe - other)
            # likewise a subquery-bound var outside the subquery's own
            # nullable set is non-null in the group's solutions
            for sj in pat.get("solution_joins") or []:
                sjdf = sj["df"] if isinstance(sj, dict) else sj
                sjnul = set(sj.get("nullable") or ()) \
                    if isinstance(sj, dict) else set()
                union_nullable -= (set(sjdf.columns) - sjnul - other)
            group_filters = pat.get("filters", [])
            # binds already applied inside the recursion above
        elif isinstance(pat, dict):
            # {'patterns': [...], 'filters': [...]}: an OPTIONAL group
            # with group-scoped FILTERs. Per SPARQL leftjoin(Ω1, Ω2,
            # expr) the filter conditions the join; when expr
            # references only group-side variables (enforced here)
            # that is equivalent to pre-filtering the group's
            # solutions — outer-variable references would need a
            # conditional left join and are rejected.
            step, step_vars = _group_solutions(
                pat["patterns"], i, "optional")
            group_filters = pat.get("filters", [])
            group_binds = pat.get("binds", [])
        elif isinstance(pat, list):
            # a multi-pattern OPTIONAL group: SPARQL evaluates the
            # group as a unit (its patterns inner-join among
            # themselves), THEN left-joins it — a partial group match
            # binds nothing
            step, step_vars = _group_solutions(pat, i, "optional")
        else:
            step, step_vars = _pattern_step(
                triples, pat, i, pos_cols,
                meta_vars=frozenset(mv_pending), meta_cols=meta_cols)
        # group-scoped BIND (SPARQL §18.2.2.6 Extend over the group's
        # solutions) — applied BEFORE group filters, which may
        # reference the bound var. A BIND expression can evaluate to
        # null, so the var is nullable on the optional side: as the
        # outer join key it joins through union_nullable's typed check.
        svset = set(step_vars)
        for bvar, bexpr in group_binds:
            if bvar in svset:
                raise ValueError(
                    f"optional group {i} BIND would rebind {bvar!r} — "
                    "SPARQL forbids rebinding an in-scope variable")
            outer = {x for x in _expr_identifiers(bexpr)
                     if x in bound and x not in svset}
            if outer:
                raise ValueError(
                    f"optional group {i} BIND {bexpr!r} references "
                    f"outer variables {sorted(outer)} — only group "
                    "variables are supported in OPTIONAL group BINDs "
                    "(outer references would need a conditional left "
                    "join)")
            step = step.withColumn(bvar, F.expr(bexpr))
            step_vars.append(bvar)
            svset.add(bvar)
            union_nullable.add(bvar)
        cond_filters: list[str] = []
        for fexpr in group_filters:
            outer = {x for x in _expr_identifiers(fexpr)
                     if x in bound and x not in svset}
            if outer:
                # SPARQL LeftJoin(Ω1, Ω2, expr) with expr referencing
                # OUTER bindings: the filter conditions the join itself
                # (a group row failing it is as-if absent for THAT
                # outer solution only) — compiled below as the left
                # join's residual condition, exactly the
                # _theta_group_join shape EXISTS/NOT EXISTS use
                cond_filters.append(fexpr)
            else:
                # references only group vars: pre-filtering the
                # group's solutions is equivalent per the leftjoin
                # definition (and keeps the join residual-free)
                step = step.where(F.expr(fexpr))
        step_meta = [c for c in step.columns if c not in step_vars]
        shared = [v for v in step_vars if v in bound]
        new = [v for v in step_vars if v not in bound]
        if not shared:
            raise ValueError(
                f"optional pattern {i} shares no variable with the "
                "required patterns — a cartesian product")
        bad_union_keys = sorted(set(shared) & union_nullable)
        if bad_union_keys:
            raise ValueError(
                f"optional group {i}: shared variable(s) "
                f"{bad_union_keys} are not bound by every UNION "
                "branch / only bound by an inner OPTIONAL or a group "
                "BIND — an unbound join key on the optional side "
                "would silently never match (Spark null != null); "
                "bind them in every branch or in a required pattern")
        # dedup the optional side unconditionally: duplicate input rows
        # (or an all-shared-vars pattern) must not multiply solutions
        # (metadata columns participate: RDF term distinctness)
        step = step.dropDuplicates(step_vars + step_meta)
        nshared = [v for v in shared if v in nullable]
        if cond_filters:
            # correlated group filter → conditional left join: equi
            # keys on the shared vars keep the join hash/sort-merge
            # plannable, the filter (group-variable references renamed
            # to the right side) is the residual condition. A filter
            # that errors (NULL) fails the condition, so the solution
            # keeps unbound optional vars — SPARQL's error-is-false
            # leftjoin contract. Nullable shared vars would need the
            # compat branching TIMES the residual — typed refusal,
            # same rule as _theta_group_join.
            if nshared:
                raise ValueError(
                    f"optional group {i}: a filter referencing outer "
                    f"variables over nullable shared variables "
                    f"{nshared} is not supported — bind them in a "
                    "required pattern")
            if step_meta:
                raise ValueError(
                    f"optional group {i}: LANG()/DATATYPE()/isIRI() "
                    "metadata cannot combine with a filter "
                    "referencing outer variables")
            right = step.select(
                *[F.col(v).alias(f"_o_{v}") for v in step_vars])
            cond = F.lit(True)
            for v in shared:
                cond = cond & (F.col(v) == F.col(f"_o_{v}"))
            ren = {v: f"_o_{v}" for v in step_vars}
            for fexpr in cond_filters:
                cond = cond & F.expr(_rewrite_refs(fexpr, ren))
            out = out.join(right, cond, "left").select(
                *[F.col(v) for v in bound],
                *[F.col(f"_o_{v}").alias(v) for v in new],
                *[F.col(c) for c in meta_bound])
        elif not nshared:
            out = out.join(step, shared, "left")
            _note_meta(step_vars)
        elif step_meta:
            raise ValueError(
                f"optional pattern {i}: LANG()/DATATYPE()/isIRI() "
                "metadata on an OPTIONAL sharing a nullable variable "
                "is not supported — bind the variable in a required "
                "pattern")
        else:
            # SPARQL leftjoin compatibility: a shared var the solution
            # left unbound matches any optional binding and takes it.
            # Branch by null-mask; each branch equi-joins on its
            # non-null keys, the all-null branch matches every row.
            # Every branch filters the SAME solution set — materialize
            # it once (lineage cut) so the upstream plan (extraction,
            # earlier joins) doesn't re-run per branch. Masks first:
            # the >4-nullable guard must raise before paying the cut.
            masks = _null_masks(nshared, f"optional pattern {i}")
            from ..session import cut_lineage
            out = cut_lineage(out)
            right = step.select(
                *[F.col(v).alias(f"_o_{v}") for v in step_vars])
            branches = []
            for mask in masks:
                left_m = out.filter(_mask_filter(mask, nshared))
                key = [v for v in shared if v not in mask]
                if key:
                    jc = F.lit(True)
                    for v in key:
                        jc = jc & (F.col(v) == F.col(f"_o_{v}"))
                    j = left_m.join(right, jc, "left")
                else:
                    j = left_m.join(right, F.lit(True), "left")
                sel = [F.coalesce(F.col(v), F.col(f"_o_{v}")).alias(v)
                       if v in mask else F.col(v) for v in bound]
                sel += [F.col(f"_o_{v}").alias(v) for v in new]
                # previously bound term-metadata columns ride along
                # (the left side carries them; the final select
                # expects them)
                sel += [F.col(c) for c in meta_bound]
                branches.append(j.select(*sel))
            out = branches[0]
            for b in branches[1:]:
                out = out.unionByName(b)
        bound += new
        nullable |= set(new)
    if values:
        vvars: list[str] = []
        for row in values:
            vvars += [v for v in row if v not in vvars]
        spark = triples.sparkSession
        vdf = spark.createDataFrame(
            [tuple(row.get(v) for v in vvars) for row in values],
            ", ".join(f"`{v}` string" for v in vvars))
        shared = [v for v in vvars if v in bound]
        new_vars = [v for v in vvars if v not in bound]
        nshared = [v for v in shared if v in nullable]
        if nshared or any(row.get(v) is None
                          for row in values for v in shared):
            # SPARQL compatibility on either side: an UNDEF VALUES
            # cell matches any solution binding, and a shared variable
            # the SOLUTION left unbound matches any VALUES cell (and
            # takes its value). The equi-join key is wrong for those
            # rows — join on an explicit null-tolerant condition
            # instead (VALUES tables are tiny, so the broadcast
            # nested-loop this plans is fine)
            cond = None
            vdf2 = vdf.select(*[F.col(v).alias(f"_v_{v}") for v in vvars])
            for v in shared:
                c = (F.col(f"_v_{v}").isNull()
                     | (F.col(f"_v_{v}") == F.col(v)))
                if v in nullable:
                    c = c | F.col(v).isNull()
                cond = c if cond is None else (cond & c)
            out = out.join(F.broadcast(vdf2), cond)
            for v in nshared:
                out = out.withColumn(
                    v, F.coalesce(F.col(v), F.col(f"_v_{v}")))
            for v in new_vars:
                out = out.withColumnRenamed(f"_v_{v}", v)
            out = out.drop(*[f"_v_{v}" for v in shared])
        elif shared:
            out = out.join(F.broadcast(vdf), shared)
        else:
            out = out.crossJoin(F.broadcast(vdf))
        bound += new_vars
        nullable |= {v for v in new_vars
                     if any(row.get(v) is None for row in values)}
    for var, expr in binds or []:
        if var in bound:
            raise ValueError(f"BIND would rebind {var!r} — SPARQL "
                             "forbids rebinding an in-scope variable")
        out = out.withColumn(var, F.expr(expr))
        bound.append(var)
        # a BIND whose expression errors leaves the var unbound per
        # SPARQL (null here) — conservatively nullable
        nullable.add(var)
    def _compat_join(out_df: DataFrame, inner: DataFrame,
                     shared: list[str], kind: str, gi: int,
                     how: str) -> DataFrame:
        """Anti/semi join under SPARQL unbound-compatibility: a shared
        variable the solution left unbound (null) is a free variable
        inside the group (NOT EXISTS/EXISTS substitution semantics) or
        compatible-with-anything (MINUS §8.3.3), so the join key per
        null-mask branch is the solution's BOUND shared vars only.
        With no nullable shared variable this is a single plain join
        — the overwhelmingly common case."""
        nshared_g = [v for v in shared if v in nullable]
        if not nshared_g:
            return out_df.join(inner.select(*shared).distinct(),
                               shared, how)
        # as in the OPTIONAL branch path: branches filter the same
        # solution set — materialize once instead of re-running the
        # upstream plan per branch (masks first so the guard raises
        # before paying the cut)
        masks = _null_masks(nshared_g, f"{kind} group {gi}")
        from ..session import cut_lineage
        out_df = cut_lineage(out_df)
        branches = []
        for mask in masks:
            left_m = out_df.filter(_mask_filter(mask, nshared_g))
            key = [v for v in shared if v not in mask]
            if key:
                branches.append(
                    left_m.join(inner.select(*key).distinct(), key, how))
            elif kind == "minus":
                # every shared var unbound: bound domains are disjoint,
                # MINUS removes nothing (§8.3.3)
                branches.append(left_m)
            else:
                # NOT EXISTS/EXISTS with every shared var unbound: the
                # group is a pure existence test — drop (anti) / keep
                # (semi) these solutions iff the group matches at all
                probe = inner.limit(1).select(F.lit(1).alias("_probe"))
                branches.append(left_m.join(probe, F.lit(True), how))
        res = branches[0]
        for b in branches[1:]:
            res = res.unionByName(b)
        return res

    def _prep_group(group, gi: int, kind: str):
        """Normalize a group entry (pattern list, or dict with
        'patterns' + 'filters') → (inner solutions, group vars,
        correlated filters). Uncorrelated filters (referencing only
        group variables — analysis succeeds on the group frame) apply
        to the group's solutions right here; the rest are returned
        for the caller's per-kind correlation semantics."""
        nested: dict = {}
        _check_entry_keys(group, f"{kind} group {gi}")
        if isinstance(group, dict):
            pats, gfilters = group["patterns"], group.get("filters", [])
            nested = {k: group[k] for k in
                      ("optional", "not_exists", "exists", "minus",
                       "values", "binds", "solution_joins")
                      if group.get(k)}
        else:
            pats, gfilters = group, []
        # term-metadata builtins in body FILTERs (LANG/DATATYPE/
        # isIRI over a body-bound var) reference {var}__kind/... —
        # the body must be compiled with meta_vars so those columns
        # exist. Detected from the filter text; a meta reference to
        # a var the body does NOT bind stays unresolved and raises
        # the usual typed never-bound error downstream.
        meta_needed = set()
        for fexpr in gfilters:
            for ident in _expr_identifiers(fexpr):
                for sfx in META_SUFFIXES:
                    if ident.endswith(sfx):
                        meta_needed.add(ident[: -len(sfx)])
        meta_needed &= _pattern_tuple_vars(pats)
        if meta_needed and not nested:
            # route the plain pattern list through bgp_match — the
            # only compiler that emits metadata columns
            nested = {}
            inner = bgp_match(triples, pats,
                              distinct_solutions=False,
                              meta_vars=meta_needed,
                              s_col=s_col, p_col=p_col,
                              o_col=o_col, g_col=g_col)
            gbound = list(inner.columns)
            gset = set(gbound)
            correlated: list[str] = []
            for fexpr in gfilters:
                if any(x in bound and x not in gset
                       for x in _expr_identifiers(fexpr)):
                    correlated.append(fexpr)
                else:
                    inner = inner.where(F.expr(fexpr))
            return inner, gbound, correlated
        if nested:
            # a FULL group body inside [NOT] EXISTS / MINUS (nested
            # negation, BIND, VALUES, inner OPTIONAL): compile it
            # through a recursive bgp_match — the body is evaluated
            # as a unit with exact group semantics, then the caller's
            # per-kind join applies. Members may not reference OUTER
            # variables (correlation through nesting would need a
            # conditional join) — typed refusal before the recursion
            # dies on an unresolved column.
            gvs = _optional_entry_vars(group)
            for k in ("not_exists", "exists", "minus"):
                for gentry in nested.get(k, []):
                    outer_vs = (_group_entry_vars(gentry)
                                & set(bound)) - gvs
                    if outer_vs:
                        raise ValueError(
                            f"{kind} group {gi} nested {k.upper()} "
                            f"references outer variables "
                            f"{sorted(outer_vs)} — only group "
                            "variables are supported inside nested "
                            "group bodies")
            for _bv, bexpr in nested.get("binds", []):
                outer_vs = {x for x in _expr_identifiers(bexpr)
                            if x in bound and x not in gvs}
                if outer_vs:
                    raise ValueError(
                        f"{kind} group {gi} BIND {bexpr!r} references "
                        f"outer variables {sorted(outer_vs)} — only "
                        "group variables are supported in nested "
                        "group BINDs")
            # SPARQL evaluates [NOT] EXISTS/MINUS bodies under
            # SUBSTITUTION: an outer-bound variable is a constant
            # inside the body. Our plan joins on the shared vars
            # instead — equivalent ONLY when the body binds them
            # non-null in a required pattern. A shared var the body
            # binds through an inner OPTIONAL or an UNDEF-able VALUES
            # cell (nullable), or re-binds via BIND, would make the
            # equality join silently diverge from substitution —
            # typed refusal.
            req_vs = _pattern_tuple_vars(pats)
            soft: set[str] = set()
            for oentry in nested.get("optional", []):
                soft |= _optional_entry_vars(oentry)
            for row in nested.get("values", []):
                soft |= {v for v, val in row.items() if val is None}
            import re as _re
            for bv, bexpr in nested.get("binds", []):
                m = _re.fullmatch(r"`(\w+)`", bexpr.strip())
                if m is None or m.group(1) not in req_vs:
                    # a pure rename of a required-pattern var is
                    # provably non-null — the shared-var equality
                    # join stays exact; anything else may be null
                    soft.add(bv)
            bad = sorted((soft - req_vs) & set(bound))
            if bad:
                raise ValueError(
                    f"{kind} group {gi}: variable(s) {bad} are shared "
                    "with the outer solutions but bound inside the "
                    "body only by OPTIONAL / BIND / an UNDEF-able "
                    "VALUES — substitution semantics would need a "
                    "conditional join; bind them in a required body "
                    "pattern or rename them")
            # a subquery-bound var the body does NOT also bind in a
            # required pattern must not be shared with the outer
            # solutions: SPARQL substitution does not descend into
            # subqueries (§18.6 / errata), so the outer binding
            # imposes NO constraint on it — our shared-var equality
            # join would wrongly constrain it. Refuse, typed.
            for sj in nested.get("solution_joins", []):
                sjdf = sj["df"] if isinstance(sj, dict) else sj
                sub_bad = sorted(
                    (set(sjdf.columns) - req_vs) & set(bound))
                if sub_bad:
                    raise ValueError(
                        f"{kind} group {gi}: variable(s) {sub_bad} "
                        "are shared with the outer solutions but "
                        "bound inside the body only by a subquery — "
                        "substitution does not descend into "
                        "subqueries, so the outer binding would not "
                        "constrain them; bind them in a required "
                        "body pattern or rename them")
            # distinct_solutions=False: the per-kind callers
            # distinct/semi-join the group's solutions themselves
            inner = bgp_match(triples, pats,
                              distinct_solutions=False,
                              meta_vars=meta_needed or None,
                              s_col=s_col, p_col=p_col,
                              o_col=o_col, g_col=g_col, **nested)
            gbound = list(inner.columns)
        else:
            inner, gbound = _group_solutions(pats, gi, kind)
        gset = set(gbound)
        correlated: list[str] = []
        for fexpr in gfilters:
            if any(x in bound and x not in gset
                   for x in _expr_identifiers(fexpr)):
                correlated.append(fexpr)
            else:
                # references only group vars (a typo'd name raises the
                # normal unresolved-column error right here)
                inner = inner.where(F.expr(fexpr))
        return inner, gbound, correlated

    def _theta_group_join(out_df: DataFrame, inner: DataFrame,
                          gbound: list[str], shared: list[str],
                          cfilters: list[str], kind: str, gi: int,
                          how: str) -> DataFrame:
        """EXISTS/NOT EXISTS with correlated filters (SPARQL
        substitution semantics: the group's filter sees the outer
        solution's bindings — e.g. the classic temporal
        ``FILTER NOT EXISTS { ?x :date ?d2 FILTER(?d2 > ?d) }``).
        Planned as a semi/anti join whose condition is the equi keys
        on the shared vars plus the filter with group-variable
        references renamed to the right side — the equi conjuncts
        keep the join hash/sort-merge plannable; the filter becomes
        the join's residual condition."""
        nshared_g = [v for v in shared if v in nullable]
        if nshared_g:
            raise ValueError(
                f"{kind} group {gi}: correlated group filters over "
                f"nullable shared variables {nshared_g} are not "
                "supported — bind them in a required pattern")
        right = inner.select(
            *[F.col(v).alias(f"_g_{v}") for v in gbound]).distinct()
        cond = F.lit(True)
        for v in shared:
            cond = cond & (F.col(v) == F.col(f"_g_{v}"))
        ren = {v: f"_g_{v}" for v in gbound}
        for fexpr in cfilters:
            cond = cond & F.expr(_rewrite_refs(fexpr, ren))
        return out_df.join(right, cond, how)

    def _expand_union_group(group, gi: int, kind: str) -> list:
        """{'union': [...], 'filters': [...]} → per-branch group
        entries. NOT EXISTS and MINUS distribute over UNION (NOT
        EXISTS{A∪B} ≡ NOT EXISTS{A} AND NOT EXISTS{B}; MINUS
        removals union), so each branch runs through the unchanged
        compat/substitution machinery; EXISTS consumes the entries
        in its marker-join path. Filters must reference only
        variables bound by every branch (or outer variables) —
        distributed into a branch that does not bind the variable
        the filter would be a type error → false, silently emptying
        just that branch."""
        _check_entry_keys(group, f"{kind} group {gi}")
        branches = group["union"]
        fs = group.get("filters", [])
        per = [{t[1:] for p3 in b for t in p3
                if isinstance(t, str) and t.startswith("?")}
               for b in branches]
        allv, common = set.union(*per), set.intersection(*per)
        for fexpr in fs:
            bad = sorted(x for x in _expr_identifiers(fexpr)
                         if x in allv and x not in common
                         and x not in bound)
            if bad:
                raise ValueError(
                    f"{kind} group {gi}: filter {fexpr!r} references "
                    f"variable(s) {bad} not bound by every UNION "
                    "branch — bind them in every branch")
        bfs = group.get("branch_filters") or [[] for _ in branches]
        bnds = group.get("binds") or []
        out_entries = []
        for bi, b in enumerate(branches):
            if fs or bfs[bi] or bnds:
                e: dict = {"patterns": b, "filters": fs + bfs[bi]}
                if bnds:
                    # Extend distributes over Union: each branch
                    # carries the group's BINDs (applied before the
                    # group filters by the recursive bgp_match)
                    e["binds"] = bnds
                out_entries.append(e)
            else:
                out_entries.append(b)
        return out_entries

    def _exists_union(out_df: DataFrame, group, gi: int) -> DataFrame:
        """EXISTS { {A} UNION {B} } ≡ EXISTS{A} OR EXISTS{B} — not
        expressible as chained semi joins (those AND). Bag-correct
        plan: one left join per branch against the branch's DISTINCT
        shared-key set carrying a marker column (unique keys: no row
        multiplication), then keep solutions with any marker set."""
        markers: list[str] = []
        cur = out_df
        for bi, entry in enumerate(_expand_union_group(group, gi,
                                                       "exists")):
            inner, gbound, cfil = _prep_group(entry, gi, "exists")
            if cfil:
                raise ValueError(
                    f"exists group {gi} (UNION branch {bi}): "
                    "correlated filters over a UNION body are not "
                    "supported — split the EXISTS per branch")
            semi_on = [v for v in gbound if v in bound]
            if not semi_on:
                raise ValueError(
                    f"exists group {gi} (UNION branch {bi}) shares "
                    "no variable with the required patterns — it is "
                    "not a per-solution test")
            nsh = [v for v in semi_on if v in nullable]
            if nsh:
                raise ValueError(
                    f"exists group {gi} (UNION branch {bi}): "
                    f"nullable shared variable(s) {nsh} over a UNION "
                    "body are not supported — bind them in a "
                    "required pattern")
            m = f"_ex_{gi}_{bi}"
            right = inner.select(*semi_on).distinct() \
                .withColumn(m, F.lit(1))
            cur = cur.join(right, semi_on, "left")
            markers.append(m)
        cond = F.col(markers[0]).isNotNull()
        for m in markers[1:]:
            cond = cond | F.col(m).isNotNull()
        return cur.filter(cond).drop(*markers)

    ne_groups: list = []
    for gi, group in enumerate(not_exists or []):
        if isinstance(group, dict) and "union" in group:
            ne_groups += _expand_union_group(group, gi, "not_exists")
        else:
            ne_groups.append(group)
    for gi, group in enumerate(ne_groups):
        inner, gbound, cfil = _prep_group(group, gi, "not_exists")
        anti_on = [v for v in gbound if v in bound]
        if not anti_on:
            raise ValueError(
                f"not_exists group {gi} shares no variable with the "
                "required patterns — it is not a per-solution test")
        if cfil:
            out = _theta_group_join(out, inner, gbound, anti_on, cfil,
                                    "not_exists", gi, "anti")
        else:
            out = _compat_join(out, inner, anti_on, "not_exists", gi,
                               "anti")
    for gi, group in enumerate(exists or []):
        if isinstance(group, dict) and "union" in group:
            out = _exists_union(out, group, gi)
            continue
        inner, gbound, cfil = _prep_group(group, gi, "exists")
        semi_on = [v for v in gbound if v in bound]
        if not semi_on:
            raise ValueError(
                f"exists group {gi} shares no variable with the "
                "required patterns — it is not a per-solution test")
        if cfil:
            out = _theta_group_join(out, inner, gbound, semi_on, cfil,
                                    "exists", gi, "semi")
        else:
            out = _compat_join(out, inner, semi_on, "exists", gi, "semi")
    mn_groups: list = []
    for gi, group in enumerate(minus or []):
        if isinstance(group, dict) and "union" in group:
            mn_groups += _expand_union_group(group, gi, "minus")
        else:
            mn_groups.append(group)
    for gi, group in enumerate(mn_groups):
        inner, gbound, cfil = _prep_group(group, gi, "minus")
        for fexpr in cfil:
            # SPARQL MINUS does NOT substitute outer bindings
            # (§8.3.3): the referenced variables are simply UNBOUND
            # inside the group. Evaluate the filter with those
            # references replaced by NULL — SQL's 3-valued logic
            # mirrors SPARQL's error algebra (error||true=true,
            # error&&x never true, COALESCE skips the error, BOUND
            # is false), so error-absorbing expressions keep their
            # non-erroring branches: FILTER(?outer > 5 || ?y > 0)
            # still removes the ?y>0 rows (the earlier blanket
            # empty-group no-op silently skipped those removals).
            # For a plain comparison the NULL makes every row false
            # — the famous spec example distinguishing MINUS from
            # NOT EXISTS stays a no-op. IF()/CASE diverge (SPARQL:
            # erroring condition = error; SQL: else branch), so
            # those refuse rather than mis-execute.
            outer_refs = {x for x in _expr_identifiers(fexpr)
                          if x in bound and x not in set(gbound)}
            import re as _re2
            # search only CODE segments — an if/case inside a string
            # literal (e.g. ?g = 'case study') must not trip the
            # refusal (advice finding)
            _code = "".join(_re2.split(
                r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")",
                fexpr)[0::2])
            if _re2.search(r"(?i)(?<!\w)(?:if\s*\(|case\b)", _code):
                raise ValueError(
                    f"minus group {gi}: filter {fexpr!r} references "
                    f"outer variables {sorted(outer_refs)} inside an "
                    "IF()/CASE — SQL's null-condition semantics "
                    "diverge from SPARQL's error propagation there; "
                    "rewrite with &&/||/COALESCE")
            inner = inner.where(F.expr(_null_refs(fexpr, outer_refs)))
        anti_on = [v for v in gbound if v in bound]
        if anti_on:
            out = _compat_join(out, inner, anti_on, "minus", gi, "anti")
        # disjoint-domain MINUS removes nothing (SPARQL §8.3.3)
    if mv_pending:
        # before the filter loop: a filter referencing the missing
        # {var}__kind column would otherwise die in analysis with an
        # opaque unresolved-column error instead of this one
        missing = sorted(mv_pending)
        raise ValueError(
            f"meta_vars {missing} were never bound by a pattern — "
            "LANG()/DATATYPE()/isIRI() need the variable bound in a "
            "required or OPTIONAL triple pattern")
    out = out.select(*bound, *meta_bound)
    # expression-level EXISTS: each entry is {'expr': sql_string,
    # 'markers': [(name, group_entry, negated), ...]} — the expr
    # references `name` as a boolean column. Each marker materializes
    # as a left join against the group's DISTINCT shared-key set
    # carrying a flag (unique keys: no row multiplication; same plan
    # shape as EXISTS-over-UNION). EXISTS here is a value inside an
    # arbitrary boolean expression, so it cannot become a semi/anti
    # join — the marker column is the faithful compilation.
    for fi, fe in enumerate(filter_exists or []):
        mcols: list[str] = []
        for name, gentry, neg in fe["markers"]:
            if name in bound:
                raise ValueError(
                    f"EXISTS marker column {name!r} collides with a "
                    "query variable — rename the variable")
            entries = _expand_union_group(gentry, fi, "exists") \
                if isinstance(gentry, dict) and "union" in gentry \
                else [gentry]
            bms: list[str] = []
            for bi, entry in enumerate(entries):
                inner, gbound, cfil = _prep_group(entry, fi, "exists")
                if cfil:
                    raise ValueError(
                        f"EXISTS inside a FILTER expression with "
                        f"correlated group filters {cfil} is not "
                        "supported — use a standalone FILTER EXISTS")
                join_on = [v for v in gbound if v in bound]
                if not join_on:
                    raise ValueError(
                        f"EXISTS inside FILTER expression {fe['expr']!r}"
                        " shares no variable with the required patterns"
                        " — it is not a per-solution test")
                nsh = [v for v in join_on if v in nullable]
                if nsh:
                    raise ValueError(
                        "EXISTS inside a FILTER expression over "
                        f"nullable shared variable(s) {nsh} is not "
                        "supported — bind them in a required pattern")
                m = f"{name}_b{bi}"
                right = inner.select(*join_on).distinct() \
                    .withColumn(m, F.lit(1))
                out = out.join(right, join_on, "left")
                bms.append(m)
            cond = F.col(bms[0]).isNotNull()
            for m in bms[1:]:
                cond = cond | F.col(m).isNotNull()
            if neg:
                cond = ~cond
            out = out.withColumn(name, cond).drop(*bms)
            mcols.append(name)
        out = out.where(F.expr(fe["expr"])).drop(*mcols)
    for expr in filters or []:
        out = out.where(F.expr(expr))
    return out


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

    Plan shape: each branch is an independent ``bgp_match`` join tree;
    the union is a zero-shuffle concatenation and the final distinct
    one hash aggregate. Branch trees are planned independently, so a
    selective branch still broadcasts even when a sibling is large.
    """
    if not branches:
        raise ValueError("empty branch list")
    if branch_filters is not None:
        if len(branch_filters) != len(branches):
            raise ValueError("branch_filters must parallel branches")
        for bi, (b, fl) in enumerate(zip(branches, branch_filters)):
            bv = _pattern_tuple_vars(b)
            # meta columns exist for branch vars requested via
            # meta_vars — a branch filter may reference those too
            ok = bv | {f"{v}{sfx}" for v in set(meta_vars or ()) & bv
                       for sfx in META_SUFFIXES}
            for expr in fl or []:
                loose = sorted(_expr_identifiers(expr) - ok)
                if loose:
                    raise ValueError(
                        f"union branch {bi} filter {expr!r} references "
                        f"{loose} not bound in that branch — a branch "
                        "FILTER scopes to its branch group (for "
                        "LANG()/DATATYPE() pass the var in meta_vars)")
    if meta_vars:
        # term-metadata columns for union-bound variables: each branch
        # emits {v}__kind/__lang/__datatype for the vars IT binds; a
        # var a branch does not bind pads null metadata like the var
        # itself (LANG() of unbound is a type error → NULL per SPARQL)
        missing = set(meta_vars) \
            - set().union(*[_pattern_tuple_vars(b) for b in branches])
        if missing:
            raise ValueError(
                f"meta_vars {sorted(missing)} were never bound by any "
                "UNION branch — LANG()/DATATYPE()/isIRI() need a "
                "binding pattern")
    outs = [bgp_match(triples, b, s_col=s_col, p_col=p_col, o_col=o_col,
                      g_col=g_col,
                      filters=(branch_filters[i] or None)
                      if branch_filters else None,
                      meta_vars=(set(meta_vars) & _pattern_tuple_vars(b))
                      or None if meta_vars else None)
            for i, b in enumerate(branches)]
    all_vars: list[str] = []
    for o in outs:
        all_vars += [v for v in o.columns if v not in all_vars]
    aligned = [o.select(*[F.col(v) if v in o.columns
                          else F.lit(None).cast("string").alias(v)
                          for v in all_vars]) for o in outs]
    out = aligned[0]
    for o in aligned[1:]:
        out = out.unionByName(o)
    # distinct=False lets a caller that immediately dedups (the
    # optional-union branch's dropDuplicates) skip a second exchange
    return out.distinct() if distinct else out


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
    if not template:
        raise ValueError("empty template")
    sol = bgp_match(triples, patterns, optional=optional,
                    not_exists=not_exists, exists=exists, minus=minus,
                    filters=filters, values=values, binds=binds,
                    s_col=s_col, p_col=p_col, o_col=o_col, g_col=g_col,
                    solution_joins=solution_joins, meta_vars=meta_vars,
                    filter_exists=filter_exists)
    if len(template) > 1:
        # each template triple projects the solution set with its own
        # null filters, so a k-triple template re-plans (and re-joins)
        # the WHERE clause k times — materialize the solutions once;
        # single-template constructs skip the cut (nothing re-used)
        from ..session import cut_lineage
        sol = cut_lineage(sol)
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
    n = schema.limit(max_schema_rows + 1).count()
    if n > max_schema_rows:
        raise ValueError(
            f"schema has >{max_schema_rows} rows — not an ontology; "
            "rdfs_closure broadcasts the closed schema by design")
    rows = [(r[0], r[1], r[2])
            for r in schema.select(s_col, p_col, o_col).collect()]
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
        return spark.createDataFrame(
            sorted(pairs) or [("", "")], f"{a} string, {b} string"
        ).where(F.col(a) != "")

    sel = [F.col(s_col).alias("subj"), F.col(p_col).alias("pred"),
           F.col(o_col).alias("obj")]
    facts = triples.select(
        *sel, *([F.col(kind_col).alias("_kind")] if kind_col else
                [F.lit("iri").alias("_kind")]))

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
    intended use), O(V²) for dense cyclic relations (don't).
    """
    edges = (triples.where(F.col(p_col) == pred)
             .select(F.col(s_col).alias("src"), F.col(o_col).alias("dst"))
             .distinct())
    return _path_closure(edges, max_rounds)


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

class _PathParser:
    """Recursive-descent parser for SPARQL path expressions.

    Grammar (precedence low→high, as in SPARQL 1.1 §9.1):

        alt  := seq ('|' seq)*
        seq  := post ('/' post)*
        post := prim ('+' | '*' | '?')*
        prim := '<' IRI '>' | '^' prim | '!' negset | '(' alt ')'
        negset := '<' IRI '>' | '^' '<' IRI '>'
                | '(' member ('|' member)* ')'   # member: <iri> | ^<iri>

    IRIs MUST be angle-bracketed — they contain ``/`` and ``|``
    themselves, so bare IRIs are ambiguous in a path string.
    """

    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def _peek(self) -> str:
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1
        return self.s[self.i] if self.i < len(self.s) else ""

    def _err(self, msg: str) -> ValueError:
        return ValueError(f"path syntax error at offset {self.i} "
                          f"in {self.s!r}: {msg}")

    def parse(self) -> tuple:
        node = self._alt()
        if self._peek():
            raise self._err(f"unexpected {self.s[self.i]!r}")
        return node

    def _alt(self) -> tuple:
        node = self._seq()
        while self._peek() == "|":
            self.i += 1
            node = ("alt", node, self._seq())
        return node

    def _seq(self) -> tuple:
        node = self._post()
        while self._peek() == "/":
            self.i += 1
            node = ("seq", node, self._post())
        return node

    def _post(self) -> tuple:
        node = self._prim()
        while self._peek() in ("+", "*", "?"):
            node = ({"+": "plus", "*": "star", "?": "opt"}[self._peek()],
                    node)
            self.i += 1
        return node

    def _prim(self) -> tuple:
        c = self._peek()
        if c == "<":
            j = self.s.find(">", self.i)
            if j < 0:
                raise self._err("unterminated '<iri>'")
            iri = self.s[self.i + 1:j]
            if not iri:
                raise self._err("empty IRI")
            self.i = j + 1
            return ("pred", iri)
        if c == "^":
            self.i += 1
            return ("inv", self._prim())
        if c == "!":
            self.i += 1
            return self._negset()
        if c == "(":
            self.i += 1
            node = self._alt()
            if self._peek() != ")":
                raise self._err("expected ')'")
            self.i += 1
            return node
        raise self._err("expected '<iri>', '^', '!' or '('")

    def _neg_member(self) -> tuple[bool, str]:
        invm = False
        if self._peek() == "^":
            invm = True
            self.i += 1
        if self._peek() != "<":
            raise self._err("negated property set members must be "
                            "'<iri>' or '^<iri>'")
        node = self._prim()
        return invm, node[1]

    def _negset(self) -> tuple:
        """SPARQL §9.1 PathNegatedPropertySet: '!<p>', '!^<p>' or
        '!(<p1>|^<p2>|...)' — forward members and inverse members are
        collected separately (they negate different scan directions)."""
        fwd: list[str] = []
        inv: list[str] = []
        if self._peek() == "(":
            self.i += 1
            while True:
                invm, iri = self._neg_member()
                (inv if invm else fwd).append(iri)
                if self._peek() == "|":
                    self.i += 1
                    continue
                if self._peek() == ")":
                    self.i += 1
                    break
                raise self._err("expected '|' or ')' in negated set")
        else:
            invm, iri = self._neg_member()
            (inv if invm else fwd).append(iri)
        return ("negset", tuple(fwd), tuple(inv))


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
    ast = _PathParser(path).parse()
    nodes_cache: list[DataFrame] = []
    gx: tuple = () if g_col is None else (F.col(g_col).alias("g"),)
    extra: tuple = () if g_col is None else ("g",)

    def nodes() -> DataFrame:
        if not nodes_cache:
            from ..session import cut_lineage
            subs = triples.select(F.col(s_col).alias("n"), *gx)
            objs = triples.select(F.col(o_col).alias("n"), *gx)
            keep = [F.col("n").alias("src"), F.col("n").alias("dst"),
                    *[F.col(g) for g in extra]]
            nodes_cache.append(cut_lineage(
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
    n = schema.limit(max_schema_rows + 1).count()
    if n > max_schema_rows:
        raise ValueError(
            f"schema has >{max_schema_rows} rows — not an ontology; "
            "owl_closure broadcasts the schema by design")
    rows = [(r[0], r[1], r[2])
            for r in schema.select(s_col, p_col, o_col).collect()]
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
    node_facts = triples.select(
        F.col(s_col).alias("subj"), F.col(p_col).alias("pred"),
        F.col(o_col).alias("obj"))
    if kind_col is not None:
        node_facts = node_facts.where(F.col(kind_col) != "literal")
    ents: list[DataFrame] = []
    if inv:
        iv = spark.createDataFrame(sorted(inv), "p_fwd string, p_inv string")
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
    All-constant pattern sets (``ASK { <s> <p> <o> }`` — the primary
    SPARQL ASK idiom) short-circuit here directly: one pushed-filter
    probe scan per pattern, no join tree at all."""
    if patterns and all(
            not t.startswith("?") for pat in patterns for t in pat) \
            and not (not_exists or exists or minus or filters
                     or values):
        pos = (s_col, p_col, o_col, g_col)
        for i, pat in enumerate(patterns):
            if "<" in pat[1]:       # constant property-path pattern
                # a 4-tuple carries a constant GRAPH term: the
                # closure must run over THAT graph's edges only —
                # dropping the scope would answer True for a path
                # that exists only in another graph
                scoped = triples
                if len(pat) == 4:
                    scoped = triples.where(F.col(g_col) == pat[3])
                rel = kg_path(scoped, pat[1], s_col=s_col,
                              p_col=p_col, o_col=o_col)
                probe = rel.where((F.col("src") == pat[0])
                                  & (F.col("dst") == pat[2]))
            else:
                probe = triples
                for term, col in zip(pat, pos):
                    probe = probe.where(F.col(col) == term)
            if not probe.limit(1).take(1):
                return False
        return True
    return bool(bgp_match(triples, patterns, not_exists=not_exists,
                          exists=exists, minus=minus, values=values,
                          filters=filters, s_col=s_col, p_col=p_col,
                          o_col=o_col, g_col=g_col,
                          meta_vars=meta_vars).limit(1).take(1))


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
    return (triples
            .where((F.col(s_col) == node) | (F.col(o_col) == node))
            .withColumn("role", F.when(F.col(s_col) == node, "subject")
                        .otherwise("object")))


def describe_nodes(triples: DataFrame, nodes: DataFrame,
                   node_col: str = "node", s_col: str = "subj",
                   p_col: str = "pred",
                   o_col: str = "obj_value") -> DataFrame:
    """SPARQL DESCRIBE over a SET of nodes (``DESCRIBE ?x WHERE ...``
    or a multi-IRI DESCRIBE): every triple whose subject or object is
    in the node set, with the role per row. Distributed — the node
    set stays a DataFrame (no driver collect): two semi-joins against
    it (subject side, object side), unioned. Catalyst/AQE broadcasts
    the node set when it is small, which it almost always is; a
    triple relating two described nodes appears once per role, same
    as running single-node ``describe`` per node and unioning."""
    n = nodes.select(F.col(node_col).alias("_n")).distinct()
    subj_side = (triples.join(n, F.col(s_col) == F.col("_n"), "semi")
                 .withColumn("role", F.lit("subject")))
    # a self-loop on a described node yields only the subject row,
    # matching single-node describe's when/otherwise
    obj_side = (triples.where(F.col(s_col) != F.col(o_col))
                .join(n, F.col(o_col) == F.col("_n"), "semi")
                .withColumn("role", F.lit("object")))
    return subj_side.unionByName(obj_side)
