"""SPARQL text front-end: parser-level checks plus equivalence of the
compiled plan against the hand-written algebra calls it targets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.kg import RDF_TYPE, bgp_match, bgp_union
from jsonld_spark.operators.sparql import (
    SparqlSyntaxError,
    SparqlUnsupportedError,
    _Parser,
    sparql_query,
)

EX = "http://example.org/"
PFX = f"PREFIX ex: <{EX}> "


# ---------------------------------------------------------------------------
# parser-only (no Spark)
# ---------------------------------------------------------------------------

def _parse(q: str):
    return _Parser(q).parse()


def test_parse_basic_select():
    q = _parse(PFX + "SELECT ?d ?a WHERE { ?d ex:author ?a . }")
    assert q.form == "select"
    assert q.where.patterns == [("?d", EX + "author", "?a")]
    assert [i[1] for i in q.select] == ["d", "a"]


def test_parse_predicate_object_lists():
    q = _parse(PFX + "SELECT * WHERE { ?d ex:author ?a ; ex:lang 'en' , "
               "'de' . }")
    assert q.where.patterns == [
        ("?d", EX + "author", "?a"),
        ("?d", EX + "lang", "en"),
        ("?d", EX + "lang", "de"),
    ]


def test_parse_a_is_rdf_type_and_literals():
    q = _parse(PFX + 'SELECT * WHERE { ?d a ex:Doc ; ex:n 42 ; '
               'ex:t "x"@en ; ex:u "y"^^ex:dt . }')
    assert q.where.patterns == [
        ("?d", RDF_TYPE, EX + "Doc"),
        ("?d", EX + "n", "42"),
        ("?d", EX + "t", "x"),
        ("?d", EX + "u", "y"),
    ]


_P, _Q, _R, _T = EX + "p", EX + "q", EX + "r", EX + "t"


@pytest.mark.parametrize("block, want", [
    ("?s ex:p ?a ; ex:q ?b , ?c .",
     [("?s", _P, "?a"), ("?s", _Q, "?b"), ("?s", _Q, "?c")]),
    ("?s ex:p ?a ; . ?t ex:q ?b", [("?s", _P, "?a"), ("?t", _Q, "?b")]),
    ("?s ex:p ?a , ?b ;", [("?s", _P, "?a"), ("?s", _P, "?b")]),
    ("[] ex:p ?a", [("?_bn_anon1", _P, "?a")]),
    ("[ ex:p ?a ] .", [("?_bn_anon1", _P, "?a")]),
    ("[ ex:p ?a ; ex:q ?b , ?c ; ] .",
     [("?_bn_anon1", _P, "?a"), ("?_bn_anon1", _Q, "?b"),
      ("?_bn_anon1", _Q, "?c")]),
    ("?s ex:p [ ex:q [ ex:r ?o ] ] ; ex:t ?u",
     [("?s", _P, "?_bn_anon1"), ("?s", _T, "?u"),
      ("?_bn_anon2", _R, "?o"), ("?_bn_anon1", _Q, "?_bn_anon2")]),
    ("[ ex:p [] ] ex:q ?o",
     [("?_bn_anon1", _Q, "?o"), ("?_bn_anon1", _P, "?_bn_anon2")]),
    ("[ ex:q ?b ; ex:p [ ex:r ?o ] , ?c ] .",
     [("?_bn_anon1", _Q, "?b"), ("?_bn_anon2", _R, "?o"),
      ("?_bn_anon1", _P, "?_bn_anon2"), ("?_bn_anon1", _P, "?c")]),
], ids=["semicolon_comma", "semicolon_dot", "semicolon_brace", "anon",
        "bnode_list_dot", "bnode_list_trailing", "nested", "anon_in_list",
        "nested_in_list"])
def test_parse_predicate_object_list_order(block, want):
    q = _parse(PFX + "SELECT * WHERE { " + block + " }")
    assert q.where.patterns == want


_XSD_PFX = "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
_TAGGED = "'a'@en, '1'^^xsd:integer, -1, +1, true, false, 2.5e1"


def test_parse_tagged_and_signed_literals_in_each_position():
    q = _parse(PFX + _XSD_PFX + "SELECT * WHERE { ?s ex:p "
               + _TAGGED.replace(",", " ,") + " }")
    assert [p[2] for p in q.where.patterns] == [
        "a", "1", "-1", "1", "true", "false", "2.5e1"]
    q = _parse(PFX + _XSD_PFX + "SELECT * WHERE { ?s ex:p ?o "
               "VALUES (?o ?x) { ('a'@en -1) ('1'^^xsd:integer +1) "
               "(true UNDEF) (ex:z 2.5) } } VALUES ?o { 'a'@en -1 +1 false }")
    assert q.where.values == [{"o": "a", "x": "-1"}, {"o": "1", "x": "1"},
                              {"o": "true", "x": None},
                              {"o": EX + "z", "x": "2.5"}]
    assert q.post_values == [{"o": "a"}, {"o": "-1"}, {"o": "1"},
                             {"o": "false"}]
    q = _parse(PFX + _XSD_PFX + "SELECT * WHERE { ?s ex:p ?o "
               "FILTER (?o = 'a'@en) FILTER (?o = '1'^^xsd:integer) "
               "FILTER (?o = -1) FILTER (?o = +1) FILTER (?o > -1.5) "
               "BIND ('a'@en AS ?b) BIND (true AS ?c) BIND (-1 AS ?d) }")
    assert q.where.filters == [
        "(`o` = 'a')", "(`o` = '1')", "(try_cast(`o` as double) = -1)",
        "(try_cast(`o` as double) = 1)", "(try_cast(`o` as double) > -1.5)"]
    assert q.where.binds == [("b", "'a'"), ("c", "true"), ("d", "-1")]


def test_parse_property_path_rendering():
    q = _parse(PFX + "SELECT * WHERE { ?x (ex:p/^ex:q)+ ?y . "
               "?x !(ex:a|^ex:b) ?z . }")
    assert q.where.patterns[0] == (
        "?x", f"(<{EX}p>/^<{EX}q>)+", "?y")
    assert q.where.patterns[1] == (
        "?x", f"!(<{EX}a>|^<{EX}b>)", "?z")


def test_parse_plain_iri_predicate_has_no_brackets():
    q = _parse(PFX + "SELECT * WHERE { ?x ex:p ?y }")
    assert q.where.patterns == [("?x", EX + "p", "?y")]


def test_parse_optional_filter_bind_values():
    q = _parse(PFX + """SELECT * WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:reviewer ?r }
        FILTER (?a != 'bob' && BOUND(?r))
        BIND (STRLEN(?a) AS ?n)
        VALUES (?a ?x) { ('alice' UNDEF) ('bob' 'b') }
    }""")
    g = q.where
    assert g.optional == [("?d", EX + "reviewer", "?r")]
    assert g.filters == ["((`a` != 'bob') AND (`r` IS NOT NULL))"]
    assert g.binds == [("n", "length(`a`)")]
    assert g.values == [{"a": "alice", "x": None},
                        {"a": "bob", "x": "b"}]


def test_parse_exists_minus_graph():
    q = _parse(PFX + """SELECT * WHERE {
        GRAPH ex:g1 { ?d ex:author ?a }
        GRAPH ?g { ?d ex:lang ?l }
        FILTER NOT EXISTS { ?d ex:hidden ?h }
        FILTER EXISTS { ?d ex:ok ?o }
        MINUS { ?d ex:author 'bob' }
    }""")
    g = q.where
    assert g.patterns == [("?d", EX + "author", "?a", EX + "g1"),
                          ("?d", EX + "lang", "?l", "?g")]
    assert g.not_exists == [[("?d", EX + "hidden", "?h")]]
    assert g.exists == [[("?d", EX + "ok", "?o")]]
    assert g.minus == [[("?d", EX + "author", "bob")]]


def test_parse_union_only_group():
    q = _parse(PFX + "SELECT * WHERE { { ?d ex:a ?x } UNION "
               "{ ?d ex:b ?x } }")
    assert q.where.union_branches == [
        [("?d", EX + "a", "?x")], [("?d", EX + "b", "?x")]]


def test_parse_single_nested_group_inlines():
    q = _parse(PFX + "SELECT * WHERE { { ?d ex:a ?x } ?d ex:b ?y }")
    assert q.where.patterns == [("?d", EX + "a", "?x"),
                                ("?d", EX + "b", "?y")]


def test_parse_aggregates_and_modifiers():
    q = _parse(PFX + """SELECT ?l (COUNT(DISTINCT ?d) AS ?n)
        (GROUP_CONCAT(?a; SEPARATOR='|') AS ?who)
        WHERE { ?d ex:lang ?l ; ex:author ?a }
        GROUP BY ?l HAVING (?n > 1)
        ORDER BY DESC(?n) ?l LIMIT 5 OFFSET 2""")
    assert q.group_by == ["l"]
    assert q.select[1][:2] == ("agg", ("count", "`d`", True, " "))
    assert q.select[2][1] == ("group_concat", "`a`", False, "|")
    assert q.having == ["(try_cast(`n` as double) > 1)"]
    assert q.order_by == [("`n`", True), ("`l`", False)]
    assert q.limit == 5 and q.offset == 2


def test_parse_numeric_comparison_casts_var_side():
    q = _parse(PFX + "SELECT * WHERE { ?d ex:n ?n FILTER (?n >= 300) }")
    assert q.where.filters == ["(try_cast(`n` as double) >= 300)"]


def test_parse_regex_and_in():
    q = _parse(PFX + "SELECT * WHERE { ?d ex:a ?a "
               "FILTER (REGEX(?a, '^ali', 'i') && ?a IN ('alice','bob')) }")
    f = q.where.filters[0]
    assert "RLIKE concat('(?i)'" in f
    assert "`a` IN ('alice', 'bob')" in f


def test_review_fixes_parse_level():
    # PNAME local part must not absorb the triple terminator dot
    q = _parse(PFX + "SELECT ?s WHERE { ?s a ex:Person. }")
    assert q.where.patterns == [("?s", RDF_TYPE, EX + "Person")]
    # but internal dots stay part of the local name
    q = _parse(PFX + "SELECT ?s WHERE { ?s a ex:v1.2 . }")
    assert q.where.patterns == [("?s", RDF_TYPE, EX + "v1.2")]
    # BASE is RFC 3986 resolution, not concatenation
    q = _parse("BASE <http://e.org/ns/x> SELECT * WHERE { ?d <foo> ?a }")
    assert q.where.patterns == [("?d", "http://e.org/ns/foo", "?a")]
    # binary minus without whitespace
    q = _parse(PFX + "SELECT * WHERE { ?d ex:n ?x FILTER (?x > ?y-1) }")
    assert "- 1" in q.where.filters[0] or "-1" in q.where.filters[0]
    # negative literal keeps the cast heuristic
    q = _parse(PFX + "SELECT * WHERE { ?d ex:n ?x FILTER (?x > -5) }")
    assert q.where.filters == ["(try_cast(`x` as double) > -5)"]
    # SPARQL REPLACE is regex-based
    q = _parse(PFX + "SELECT * WHERE { ?d ex:t ?t "
               "FILTER (REPLACE(?t, '[0-9]+', '') = 'doc') }")
    assert "regexp_replace" in q.where.filters[0]
    # nested GRAPH raises a typed error
    with pytest.raises(SparqlUnsupportedError, match="nested GRAPH"):
        _parse(PFX + "SELECT * WHERE { GRAPH ?g { GRAPH <g2> "
               "{ ?s ?p ?o } } }")
    # LIMIT validates its operand
    with pytest.raises(SparqlSyntaxError, match="non-negative integer"):
        _parse(PFX + "SELECT * WHERE { ?s ?p ?o } LIMIT 2.5")


def test_review_fixes_exec_level(triples, versions):
    # GROUP BY without aggregates: one row per group
    got = sparql_query(triples, PFX + "SELECT ?a WHERE "
                       "{ ?d ex:author ?a } GROUP BY ?a")
    assert _rows(got) == [("alice",), ("bob",)]
    # COUNT(DISTINCT *) counts distinct solutions
    got = sparql_query(triples, PFX + "SELECT (COUNT(DISTINCT *) AS ?n)"
                       " WHERE { ?d ex:author ?a }")
    assert [tuple(r) for r in got.collect()] == [(3,)]
    # ASK over UNION: true iff any branch matches
    assert sparql_query(triples, PFX + "ASK { { ?d ex:author 'carol' } "
                        "UNION { ?d ex:author 'bob' } }") is True
    assert sparql_query(triples, PFX + "ASK { { ?d ex:author 'carol' } "
                        "UNION { ?d ex:author 'dan' } }") is False
    # an outer variable named like a SQL type must not misclassify an
    # uncorrelated group filter (cast target 'int' is not a reference)
    got = sparql_query(versions, PFX + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?int ?v WHERE {
            ?int ex:ver ?v
            MINUS { ?int ex:ver ?v2 FILTER (xsd:int(?v2) = 5) }
        }""")
    assert _rows(got) == [("d1", "1"), ("d1", "2")]


def test_parse_xsd_cast_constructor():
    q = _parse("PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
               "SELECT * WHERE { ?d <p> ?n "
               "FILTER (xsd:integer(?n) > xsd:integer('42')) }")
    assert q.where.filters == [
        "(try_cast(`n` as bigint) > try_cast('42' as bigint))"]
    with pytest.raises(SparqlUnsupportedError):
        _parse("SELECT * WHERE { ?d <p> ?n "
               "FILTER (<http://e.org/myFunc>(?n) = 'x') }")


def test_parse_errors():
    with pytest.raises(SparqlSyntaxError):
        _parse("SELECT WHERE { ?a ?b ?c }")
    with pytest.raises(SparqlSyntaxError):
        _parse(PFX + "SELECT * WHERE { ?d unknown:p ?a }")
    with pytest.raises(SparqlSyntaxError):
        _parse(PFX + "SELECT * WHERE { ?d ex:p ?a ")
    with pytest.raises(SparqlUnsupportedError):
        # STRUUID remains outside the compiled subset (LANG/DATATYPE/
        # isIRI are now supported via term-metadata columns)
        _parse(PFX + "SELECT * WHERE { ?d ex:p ?a "
               "FILTER (STRUUID() = 'x') }")
    # UNION mixed with other group members is supported since round 5
    # (compiles to Join(Union(A, B), rest) via a solution join)
    q = _parse(PFX + "SELECT * WHERE { { ?d ex:a ?x } UNION "
               "{ ?d ex:b ?x } ?d ex:c ?y }")
    assert len(q.where.inline_unions) == 1
    assert q.where.patterns == [("?d", EX + "c", "?y")]


def test_parse_ask_construct_describe():
    q = _parse(PFX + "ASK { ?d ex:author 'alice' }")
    assert q.form == "ask"
    q = _parse(PFX + "CONSTRUCT { ?a ex:wrote ?d } WHERE "
               "{ ?d ex:author ?a }")
    assert q.form == "construct"
    assert q.template == [("?a", EX + "wrote", "?d")]
    q = _parse(PFX + "DESCRIBE ex:doc1")
    assert q.form == "describe" and q.describe_nodes == [EX + "doc1"]


def test_parse_comments_and_base():
    q = _parse("BASE <http://b.example/> # hello\n"
               "SELECT * WHERE { ?d <p> ?a } # tail")
    assert q.where.patterns == [("?d", "http://b.example/p", "?a")]


# ---------------------------------------------------------------------------
# compiled execution vs the programmatic algebra
# ---------------------------------------------------------------------------

@pytest.fixture()
def triples(spark):
    rows = [
        ("d1", EX + "author", "alice", "g1"),
        ("d1", EX + "lang", "en", "g1"),
        ("d2", EX + "author", "alice", "g2"),
        ("d2", EX + "lang", "de", "g2"),
        ("d3", EX + "author", "bob", "g1"),
        ("d3", EX + "lang", "en", "g1"),
        ("d1", EX + "cites", "d2", "g1"),
        ("d2", EX + "cites", "d3", "g2"),
        ("d1", EX + "reviewer", "rev1", "g1"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, graph string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_exec_matches_programmatic_bgp(triples):
    got = sparql_query(triples, PFX + "SELECT * WHERE "
                       "{ ?d ex:author ?a ; ex:lang 'en' }")
    want = bgp_match(triples, [("?d", EX + "author", "?a"),
                               ("?d", EX + "lang", "en")])
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_exec_projection_distinct(triples):
    got = sparql_query(triples, PFX + "SELECT DISTINCT ?a WHERE "
                       "{ ?d ex:author ?a }")
    assert _rows(got) == [("alice",), ("bob",)]


def test_exec_optional_filter(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?r WHERE {
        ?d ex:lang 'en' OPTIONAL { ?d ex:reviewer ?r }
        FILTER (!BOUND(?r) || ?r = 'rev1')
    }""")
    assert _rows(got) == [("d1", "rev1"), ("d3", None)]


def test_exec_optional_group_unit_semantics(spark):
    """A multi-pattern OPTIONAL group matches as a UNIT: a doc whose
    reviewer exists but has no level gets (null, null), not a
    half-bound row — the SPARQL leftjoin-over-joined-group rule."""
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en"),
         ("d2", EX + "lang", "en"),
         ("d3", EX + "lang", "en"),
         ("d1", EX + "reviewer", "r1"),
         ("d2", EX + "reviewer", "r2"),
         ("r1", EX + "level", "senior")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?d ?r ?l WHERE {
        ?d ex:lang 'en'
        OPTIONAL { ?d ex:reviewer ?r . ?r ex:level ?l }
    }""")
    assert _rows(got) == [("d1", "r1", "senior"),
                          ("d2", None, None),      # r2 has no level
                          ("d3", None, None)]
    # same algebra call directly (list entry = group)
    got2 = bgp_match(t, [("?d", EX + "lang", "en")],
                     optional=[[("?d", EX + "reviewer", "?r"),
                                ("?r", EX + "level", "?l")]])
    assert _rows(got2) == _rows(got)


def test_exec_optional_group_scoped_filter(triples):
    """A FILTER inside OPTIONAL conditions the left join (SPARQL
    leftjoin expr): a reviewer failing the filter is as if absent."""
    got = sparql_query(triples, PFX + """SELECT ?d ?r WHERE {
        ?d ex:lang 'en'
        OPTIONAL { ?d ex:reviewer ?r FILTER (?r != 'rev1') }
    }""")
    assert _rows(got) == [("d1", None), ("d3", None)]
    got = sparql_query(triples, PFX + """SELECT ?d ?r WHERE {
        ?d ex:lang 'en'
        OPTIONAL { ?d ex:reviewer ?r FILTER (STRSTARTS(?r, 'rev')) }
    }""")
    assert _rows(got) == [("d1", "rev1"), ("d3", None)]


def test_optional_correlated_filter_conditions_the_join(spark):
    """SPARQL LeftJoin(A, B, expr) with expr referencing OUTER
    variables: the filter conditions the join — a group row failing
    it is as-if absent for THAT solution only (the solution keeps
    unbound optional vars), never a row drop."""
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en"),
         ("d2", EX + "lang", "de"),
         ("d1", EX + "reviewer", "r1"),
         ("d2", EX + "reviewer", "r2")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?d ?r WHERE {
        ?d ex:lang ?l
        OPTIONAL { ?d ex:reviewer ?r FILTER (?l != 'de') }
    }""")
    # d2 HAS a reviewer, but the correlated filter is false for its
    # outer binding → d2's solution survives with ?r unbound
    assert _rows(got) == [("d1", "r1"), ("d2", None)]


def test_optional_correlated_filter_cross_side_comparison(spark):
    """The residual condition compares an outer var against a
    group var — the classic attach-if-newer idiom."""
    t = spark.createDataFrame(
        [("d1", EX + "v", "3"),
         ("d2", EX + "v", "9"),
         ("d1", EX + "cand", "5"),
         ("d1", EX + "cand", "2"),
         ("d2", EX + "cand", "4")],
        "subj string, pred string, obj_value string")
    got = sparql_query(
        t, "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        + PFX + """SELECT ?d ?c WHERE {
        ?d ex:v ?v
        OPTIONAL { ?d ex:cand ?c
                   FILTER (xsd:integer(?c) > xsd:integer(?v)) }
    }""")
    assert _rows(got) == [("d1", "5"), ("d2", None)]


def test_optional_correlated_filter_nullable_shared_raises(spark):
    """A correlated filter over a shared var bound only by an earlier
    OPTIONAL (nullable) raises typed — the compat branching times a
    residual condition is out of scope."""
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en"),
         ("d1", EX + "reviewer", "r1"),
         ("r1", EX + "level", "senior")],
        "subj string, pred string, obj_value string")
    with pytest.raises(ValueError, match="nullable shared"):
        bgp_match(
            t, [("?d", EX + "lang", "?l")],
            optional=[("?d", EX + "reviewer", "?r"),
                      {"patterns": [("?r", EX + "level", "?lv")],
                       "filters": ["`lv` > `l`"]}]).collect()


def test_parse_optional_group_filter_dict_form():
    q = _parse(PFX + "SELECT * WHERE { ?d ex:a ?x OPTIONAL { "
               "?d ex:r ?r . ?r ex:l ?l FILTER (?l = 'x') } }")
    assert q.where.optional == [{
        "patterns": [("?d", EX + "r", "?r"), ("?r", EX + "l", "?l")],
        "filters": ["(`l` = 'x')"]}]


def test_rewrite_refs_spares_literals():
    from jsonld_spark.operators.kg import _rewrite_refs
    got = _rewrite_refs("`v2` > v AND x = 'v2 and v'",
                        {"v2": "_g_v2", "v": "_g_v"})
    assert got == "`_g_v2` > _g_v AND x = 'v2 and v'"


@pytest.fixture()
def versions(spark):
    return spark.createDataFrame(
        [("d1", EX + "ver", "1"), ("d1", EX + "ver", "2"),
         ("d2", EX + "ver", "5")],
        "subj string, pred string, obj_value string")


def test_correlated_not_exists_latest_version(versions):
    """The classic temporal NOT EXISTS: keep each doc's row only when
    no later version exists — the correlated filter becomes the anti
    join's residual condition."""
    got = bgp_match(versions, [("?d", EX + "ver", "?v")],
                    not_exists=[{"patterns": [("?d", EX + "ver", "?v2")],
                                 "filters": ["v2 > v"]}])
    assert _rows(got) == [("d1", "2"), ("d2", "5")]
    # same from SPARQL text
    got2 = sparql_query(versions, PFX + """SELECT ?d ?v WHERE {
        ?d ex:ver ?v
        FILTER NOT EXISTS { ?d ex:ver ?v2 FILTER (?v2 > ?v) }
    }""")
    assert _rows(got2) == [("d1", "2"), ("d2", "5")]


def test_correlated_exists_semi(versions):
    got = sparql_query(versions, PFX + """SELECT ?d ?v WHERE {
        ?d ex:ver ?v
        FILTER EXISTS { ?d ex:ver ?v2 FILTER (?v2 > ?v) }
    }""")
    assert _rows(got) == [("d1", "1")]


def test_correlated_filter_over_nullable_shared_raises(versions):
    """Correlated group filters + unbound-compatibility branching do
    not compose; the engine refuses rather than guessing."""
    with pytest.raises(ValueError, match="nullable"):
        bgp_match(versions, [("?d", EX + "ver", "?v")],
                  optional=[("?d", EX + "opt", "?x")],
                  not_exists=[{"patterns": [("?x", EX + "p", "?z")],
                               "filters": ["z > v"]}]).collect()


def test_minus_correlated_filter_is_noop(versions):
    """MINUS does not substitute outer bindings (SPARQL §8.3.3): the
    group filter's ?v is unbound inside the group, errors to false,
    the group is empty, and the MINUS removes nothing."""
    got = sparql_query(versions, PFX + """SELECT ?d ?v WHERE {
        ?d ex:ver ?v
        MINUS { ?d ex:ver ?v2 FILTER (?v2 > ?v) }
    }""")
    assert _rows(got) == [("d1", "1"), ("d1", "2"), ("d2", "5")]
    # uncorrelated group filter still applies: remove d2's rows
    got = sparql_query(versions, PFX + """SELECT ?d ?v WHERE {
        ?d ex:ver ?v
        MINUS { ?d ex:ver ?v2 FILTER (?v2 = '5') }
    }""")
    assert _rows(got) == [("d1", "1"), ("d1", "2")]


def test_optional_group_must_connect(spark):
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en")],
        "subj string, pred string, obj_value string")
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(t, [("?d", EX + "lang", "?l")],
                  optional=[[("?d", EX + "a", "?x"),
                             ("?y", EX + "b", "?z")]]).collect()


def test_exec_union(triples):
    got = sparql_query(triples, PFX + "SELECT * WHERE { "
                       "{ ?d ex:author 'bob' } UNION "
                       "{ ?d ex:lang 'de' } }")
    want = bgp_union(triples, [[("?d", EX + "author", "bob")],
                               [("?d", EX + "lang", "de")]])
    assert _rows(got) == _rows(want)


def test_regex_replace_flags(triples):
    # 's' (dotall) and 'm' (multiline) map to Java inline flags
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { "
                       "?d ex:author ?a FILTER REGEX(?a, 'a.ice', 's') }")
    assert _rows(got) == [("d1",), ("d2",)]
    # 'q': literal-pattern containment — the dot is NOT a wildcard
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { "
                       "?d ex:author ?a FILTER REGEX(?a, 'a.ice', 'q') }")
    assert _rows(got) == []
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { "
                       "?d ex:author ?a FILTER REGEX(?a, 'LIC', 'iq') }")
    assert _rows(got) == [("d1",), ("d2",)]
    # REPLACE with flags; 'q' = plain substring replacement
    q = _parse(PFX + "SELECT * WHERE { ?d ex:author ?a "
               "FILTER (REPLACE(?a, 'A.*E', '', 'is') = '') }")
    assert "(?is)" in q.where.filters[0]
    q = _parse(PFX + "SELECT * WHERE { ?d ex:author ?a "
               "FILTER (REPLACE(?a, 'a.i', 'x', 'q') = ?a) }")
    assert "regexp_replace" not in q.where.filters[0]
    with pytest.raises(SparqlUnsupportedError, match="not supported"):
        _parse(PFX + "SELECT * WHERE { ?d ex:author ?a "
               "FILTER REGEX(?a, 'x', 'g') }")
    with pytest.raises(SparqlUnsupportedError, match="cannot combine"):
        _parse(PFX + "SELECT * WHERE { ?d ex:author ?a "
               "FILTER (REPLACE(?a, 'x', 'y', 'qs') = ?a) }")


def test_parse_union_branch_filters():
    q = _parse(PFX + "SELECT * WHERE { { ?d ex:author ?a "
               "FILTER(?a = 'alice') } UNION { ?d ex:lang 'de' } }")
    assert len(q.where.union_branches) == 2
    assert q.where.union_branch_filters[0] == ["(`a` = 'alice')"]
    assert q.where.union_branch_filters[1] == []
    # out-of-branch variable: typed error, not a silently-empty branch
    with pytest.raises(SparqlUnsupportedError, match="not bound in that"):
        _parse(PFX + "SELECT * WHERE { { ?d ex:author ?a "
               "FILTER(?x = 'y') } UNION { ?d ex:lang ?x } }")
    with pytest.raises(SparqlUnsupportedError, match="EXISTS inside a"):
        _parse(PFX + "SELECT * WHERE { { ?d ex:author ?a FILTER EXISTS "
               "{ ?d ex:lang ?l } } UNION { ?d ex:lang 'de' } }")


def test_exec_union_branch_filter(triples):
    # the filter prunes only its own branch: alice-authored docs from
    # branch 1, every de-lang doc from branch 2
    got = sparql_query(triples, PFX + "SELECT * WHERE { "
                       "{ ?d ex:author ?a FILTER(?a = 'alice') } UNION "
                       "{ ?d ex:lang 'de' } }")
    rows = {tuple(r) for r in got.collect()}
    assert rows == {("d1", "alice"), ("d2", None), ("d2", "alice")}


def test_exec_union_branch_filter_inline(triples):
    # UNION (with a branch filter) mixed with another member: the
    # union's filtered solutions join the rest of the group
    got = sparql_query(triples, PFX + "SELECT ?d ?l WHERE { "
                       "{ ?d ex:author 'alice' FILTER(?d != 'd2') } "
                       "UNION { ?d ex:reviewer ?r } "
                       "?d ex:lang ?l }")
    assert _rows(got) == [("d1", "en")]


def test_exec_union_branch_filter_ask_construct(triples):
    assert sparql_query(triples, PFX + "ASK { { ?d ex:author ?a "
                        "FILTER(?a = 'nobody') } UNION "
                        "{ ?d ex:lang 'de' } }") is True
    assert sparql_query(triples, PFX + "ASK { { ?d ex:author ?a "
                        "FILTER(?a = 'nobody') } UNION "
                        "{ ?d ex:lang 'xx' } }") is False
    got = sparql_query(triples, PFX + "CONSTRUCT { ?d ex:hit 'y' } "
                       "WHERE { { ?d ex:author ?a FILTER(?a = 'bob') } "
                       "UNION { ?d ex:lang 'de' } }")
    assert sorted(r.subj for r in got.collect()) == ["d2", "d3"]


def test_exec_nested_group_filter_inlines(triples):
    # a single nested plain group with a filter inlines into the
    # enclosing group (filter deps are branch-bound, so it commutes)
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { "
                       "{ ?d ex:author ?a FILTER(?a = 'alice') } "
                       "?d ex:lang 'en' }")
    assert _rows(got) == [("d1",)]


def test_exec_optional_union_branch_filter(triples):
    # OPTIONAL { {A FILTER} UNION {B} }: the branch filter prunes only
    # branch A's rows BEFORE the union; outer solutions never drop
    got = sparql_query(triples, PFX + "SELECT ?d ?o WHERE { "
                       "?d ex:lang ?l . OPTIONAL { "
                       "{ ?d ex:author ?o FILTER(?o = 'alice') } UNION "
                       "{ ?d ex:reviewer ?o } } }")
    rows = {tuple(r) for r in got.collect()}
    assert rows == {("d1", "alice"), ("d1", "rev1"),
                    ("d2", "alice"), ("d3", None)}


def test_exec_negation_union_branch_filter(triples):
    # NOT EXISTS over a UNION distributes per branch; each branch's
    # own FILTER applies inside that branch
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "FILTER NOT EXISTS { "
                       "{ ?d ex:author ?a FILTER(?a = 'bob') } UNION "
                       "{ ?d ex:reviewer ?r } } }")
    assert _rows(got) == [("d2",)]
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "FILTER EXISTS { "
                       "{ ?d ex:author ?a FILTER(?a = 'bob') } UNION "
                       "{ ?d ex:reviewer ?r } } }")
    assert _rows(got) == [("d1",), ("d3",)]
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "MINUS { "
                       "{ ?d ex:author ?a FILTER(?a = 'bob') } UNION "
                       "{ ?d ex:reviewer ?r } } }")
    assert _rows(got) == [("d2",)]


def test_nested_body_nullable_shared_var_refuses(spark):
    # review finding: a negation body whose inner OPTIONAL binds a
    # variable ALSO bound outside silently diverged from substitution
    # semantics (the equality anti-join key saw the optional's value,
    # not the outer constant) — now a typed refusal
    t = spark.createDataFrame(
        [("d1", EX + "cites", "c1"), ("c1", EX + "rev", "alice"),
         ("d1", EX + "rev", "bob"), ("d2", EX + "rev", "bob")],
        "subj string, pred string, obj_value string")
    with pytest.raises(ValueError, match="OPTIONAL / BIND"):
        sparql_query(t, PFX + "SELECT ?d ?r WHERE { ?d ex:rev ?r "
                     "FILTER NOT EXISTS { ?d ex:cites ?c "
                     "OPTIONAL { ?c ex:rev ?r } } }").collect()
    # renaming the inner variable makes it a pure group var — fine
    got = sparql_query(t, PFX + "SELECT ?d ?r WHERE { ?d ex:rev ?r "
                       "FILTER NOT EXISTS { ?d ex:cites ?c "
                       "OPTIONAL { ?c ex:rev ?r2 } } }")
    # d1 cites something -> dropped; c1 and d2 cite nothing -> kept
    assert _rows(got) == [("c1", "alice"), ("d2", "bob")]


def test_minus_union_body_bind_joins_domain(spark):
    # review finding: BIND beside a UNION body was silently dropped —
    # the MINUS domain lost ?l and removed everything. Extend
    # distributes over Union; ?l (a pure rename of the required ?x)
    # joins the compatibility domain, so d2 (de vs fr) survives
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en"), ("d1", EX + "a", "en"),
         ("d2", EX + "lang", "de"), ("d2", EX + "b", "fr")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + "SELECT ?d ?l WHERE { ?d ex:lang ?l "
                       "MINUS { { ?d ex:a ?x } UNION { ?d ex:b ?x } "
                       "BIND(?x AS ?l) } }")
    assert _rows(got) == [("d2", "de")]


def test_ask_union_branch_meta_filter(typed_triples):
    # review finding: meta builtins in branch filters crashed outside
    # the SELECT path — ASK/CONSTRUCT union paths now thread meta_vars
    assert sparql_query(typed_triples, PFX + "ASK { "
                        "{ ?s ex:name ?o FILTER(LANG(?o) = 'fr') } "
                        "UNION { ?s ex:link ?o } }") is True
    assert sparql_query(typed_triples, PFX + "ASK { "
                        "{ ?s ex:name ?o FILTER(LANG(?o) = 'zz') } "
                        "UNION { ?s ex:missing ?o } }") is False
    got = sparql_query(typed_triples, PFX +
                       "CONSTRUCT { ?s ex:hit 'y' } WHERE { "
                       "{ ?s ex:name ?o FILTER(LANG(?o) = 'fr') } "
                       "UNION { ?s ex:link ?o } }")
    assert sorted(r.subj for r in got.collect()) == ["d1"]
    # group-body unions cannot thread meta_vars — typed rejection
    with pytest.raises(SparqlUnsupportedError, match="LANG"):
        _parse(PFX + "SELECT * WHERE { ?s ex:n ?n OPTIONAL { "
               "{ ?s ex:name ?o FILTER(LANG(?o) = 'fr') } UNION "
               "{ ?s ex:link ?o } } }")
    # the XPath 'x' flag diverges in Java ('#' comments) — rejected
    with pytest.raises(SparqlUnsupportedError, match="i/s/m/q"):
        _parse(PFX + "SELECT * WHERE { ?s ex:name ?o "
               "FILTER REGEX(?o, 'a b', 'x') }")


def test_dataset_clauses(triples):
    # FROM: the default graph is the merge of the FROM graphs — a
    # pushed graph-column isin filter
    got = sparql_query(triples, PFX + "SELECT ?d ?a FROM <g1> "
                       "WHERE { ?d ex:author ?a }")
    assert _rows(got) == [("d1", "alice"), ("d3", "bob")]
    got = sparql_query(triples, PFX + "SELECT ?d ?a FROM <g1> "
                       "FROM <g2> WHERE { ?d ex:author ?a }")
    assert len(_rows(got)) == 3
    # FROM NAMED: GRAPH ?g ranges over the named set only
    got = sparql_query(triples, PFX + "SELECT ?g ?d FROM NAMED <g2> "
                       "WHERE { GRAPH ?g { ?d ex:author ?a } }")
    assert _rows(got) == [("g2", "d2")]
    # ASK with a dataset clause
    assert sparql_query(triples, PFX +
                        "ASK FROM <g2> { ?d ex:lang 'de' }") is True
    assert sparql_query(triples, PFX +
                        "ASK FROM <g1> { ?d ex:lang 'de' }") is False
    # CONSTRUCT with a dataset clause (template-then-FROM position)
    got = sparql_query(triples, PFX + "CONSTRUCT { ?d ex:hit 'y' } "
                       "FROM <g2> WHERE { ?d ex:author ?a }")
    assert sorted(r.subj for r in got.collect()) == ["d2"]
    # typed refusals for the unsupported scope mixes
    with pytest.raises(SparqlUnsupportedError, match="FROM together"):
        sparql_query(triples, PFX + "SELECT * FROM <g1> WHERE { "
                     "GRAPH ?g { ?d ex:author ?a } }")
    with pytest.raises(SparqlUnsupportedError, match="default graph"):
        sparql_query(triples, PFX + "SELECT * FROM NAMED <g1> WHERE { "
                     "?d ex:author ?a }")
    with pytest.raises(SparqlUnsupportedError, match="combining FROM"):
        sparql_query(triples, PFX + "SELECT ?g ?d FROM <g1> "
                     "FROM NAMED <g2> WHERE { "
                     "GRAPH ?g { ?d ex:author ?a } }")
    with pytest.raises(SparqlSyntaxError, match="subquery"):
        _parse(PFX + "SELECT * WHERE { { SELECT ?d FROM <g1> WHERE "
               "{ ?d ex:author ?a } } ?d ex:lang ?l }")


def test_exec_nested_not_exists(triples):
    # double negation (forall): docs whose every cited doc has a
    # reviewer — the inner NOT EXISTS body compiles via a recursive
    # bgp_match inside the outer group
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "FILTER NOT EXISTS { ?d ex:cites ?c "
                       "FILTER NOT EXISTS { ?c ex:reviewer ?r } } }")
    assert _rows(got) == [("d3",)]
    # BIND inside an EXISTS body
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "FILTER EXISTS { ?d ex:author ?a "
                       "BIND(UCASE(?a) AS ?u) FILTER(?u = 'BOB') } }")
    assert _rows(got) == [("d3",)]
    # VALUES inside a MINUS body
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l2 "
                       "MINUS { ?d ex:lang ?l2 VALUES ?l2 { 'en' } } }")
    assert _rows(got) == [("d2",)]
    # inner OPTIONAL inside an EXISTS body
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "FILTER EXISTS { ?d ex:author ?a "
                       "OPTIONAL { ?d ex:reviewer ?r } "
                       "FILTER(BOUND(?r)) } }")
    assert _rows(got) == [("d1",)]
    # an inner negation referencing an OUTER-only variable raises
    # typed (correlation through nesting is out of scope)
    with pytest.raises(ValueError, match="outer variables"):
        sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                     "FILTER NOT EXISTS { ?d ex:cites ?c "
                     "FILTER NOT EXISTS { ?c ex:lang ?l } } }").collect()
    # a subquery inside an EXISTS body now compiles (part 21): the
    # body joins its required pattern with the subquery's solutions
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "FILTER EXISTS { ?d ex:author ?a "
                       "{ SELECT ?a WHERE { ?x ex:author ?a } } } }")
    assert _rows(got) == [("d1",), ("d2",), ("d3",)]


def test_exec_graph_clause(triples):
    got = sparql_query(triples, PFX + "SELECT * WHERE { "
                       "GRAPH ex:g2 { ?d ex:author ?a } }".replace(
                           "ex:g2", "<g2>"))
    assert _rows(got) == [("d2", "alice")]


def test_exec_path_inside_constant_graph(triples):
    got = sparql_query(triples, PFX + "SELECT * WHERE { "
                       "GRAPH <g1> { ?x ex:cites+ ?y } }")
    # only d1->d2 is homed in g1; d2->d3 lives in g2
    assert _rows(got) == [("d1", "d2")]


def test_exec_path_inside_variable_graph(triples):
    # per-graph closure: d1->d3 needs edges from BOTH graphs, so it
    # appears in neither graph's own closure
    got = sparql_query(triples, PFX + "SELECT ?g ?x ?y WHERE { "
                       "GRAPH ?g { ?x ex:cites+ ?y } }")
    assert _rows(got) == [("g1", "d1", "d2"), ("g2", "d2", "d3")]


def test_exec_property_path(triples):
    got = sparql_query(triples, PFX + "SELECT * WHERE "
                       "{ ?x ex:cites+ ?y }")
    assert _rows(got) == [("d1", "d2"), ("d1", "d3"), ("d2", "d3")]


def test_exec_not_exists_minus(triples):
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "FILTER NOT EXISTS { ?d ex:reviewer ?r } }")
    assert _rows(got) == [("d2",), ("d3",)]
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l "
                       "MINUS { ?d ex:author 'bob' } }")
    assert _rows(got) == [("d1",), ("d2",)]


def test_exec_path_inside_not_exists(triples):
    """A property path as a pattern predicate inside a negation group,
    from text: drop docs that transitively cite d3."""
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { "
                       "?d ex:lang ?l "
                       "FILTER NOT EXISTS { ?d ex:cites+ <d3> } }")
    assert _rows(got) == [("d3",)]


def test_exec_values_and_bind(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?a ?n WHERE {
        ?d ex:author ?a
        VALUES ?a { 'alice' }
        BIND (STRLEN(?d) AS ?n)
    }""")
    assert _rows(got) == [("d1", "alice", 2), ("d2", "alice", 2)]


def test_exec_aggregation(triples):
    got = sparql_query(triples, PFX + """SELECT ?l (COUNT(?d) AS ?n)
        (GROUP_CONCAT(?a; SEPARATOR='|') AS ?who)
        WHERE { ?d ex:lang ?l ; ex:author ?a }
        GROUP BY ?l ORDER BY DESC(?n)""")
    assert got.columns == ["l", "n", "who"]
    assert [tuple(r) for r in got.collect()] == [
        ("en", 2, "alice|bob"), ("de", 1, "alice")]


def test_exec_sum_avg_distinct(versions):
    # SUM/AVG(DISTINCT expr) aggregate the distinct VALUE multiset
    # (SPARQL 18.5.1): "02" is a distinct solution from "2" (lexical
    # term identity) but the same xsd:integer value — DISTINCT inside
    # the aggregate collapses it, plain SUM would count it twice
    dup = versions.sparkSession.createDataFrame(
        [("d1", EX + "ver", "02")],
        "subj string, pred string, obj_value string")
    t = versions.unionByName(dup)
    got = sparql_query(t, PFX + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?d (SUM(DISTINCT xsd:integer(?v)) AS ?sd)
               (AVG(DISTINCT xsd:integer(?v)) AS ?ad)
        WHERE { ?d ex:ver ?v } GROUP BY ?d ORDER BY ?d""")
    assert [tuple(r) for r in got.collect()] == [
        ("d1", 3.0, 1.5), ("d2", 5.0, 5.0)]


def test_exec_aggregate_over_cast_expression(versions):
    got = sparql_query(versions, PFX + """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?d (SUM(xsd:integer(?v)) AS ?total)
               (MAX(xsd:integer(?v)) AS ?hi)
        WHERE { ?d ex:ver ?v } GROUP BY ?d ORDER BY ?d""")
    assert got.columns == ["d", "total", "hi"]
    assert [tuple(r) for r in got.collect()] == [
        ("d1", 3.0, 2), ("d2", 5.0, 5)]


def test_exec_having_limit_offset(triples):
    got = sparql_query(triples, PFX + """SELECT ?a (COUNT(?d) AS ?n)
        WHERE { ?d ex:author ?a } GROUP BY ?a HAVING (?n >= 2)""")
    assert _rows(got) == [("alice", 2)]
    got = sparql_query(triples, PFX + "SELECT ?d WHERE { ?d ex:lang ?l }"
                       " ORDER BY ?d LIMIT 1 OFFSET 1")
    assert _rows(got) == [("d2",)]


def test_exec_ask_describe(triples):
    assert sparql_query(triples, PFX + "ASK { ?d ex:author 'alice' }") \
        is True
    assert sparql_query(triples, PFX + "ASK { ?d ex:author 'carol' }") \
        is False
    got = sparql_query(triples, PFX + "DESCRIBE <d2>")
    assert {r.role for r in got.collect()} == {"subject", "object"}


def test_exec_describe_var_and_multi(triples):
    # DESCRIBE ?d WHERE: all docs authored by alice → their triples
    got = sparql_query(triples, PFX + "DESCRIBE ?d WHERE "
                       "{ ?d ex:author 'alice' }")
    subj_rows = {(r.subj, r.pred, r.obj_value)
                 for r in got.collect() if r.role == "subject"}
    assert {s for s, _, _ in subj_rows} == {"d1", "d2"}
    obj_rows = [r for r in got.collect() if r.role == "object"]
    assert {(r.subj, r.obj_value) for r in obj_rows} == {("d1", "d2")}
    # multi-IRI DESCRIBE equals the union of single-node describes
    from jsonld_spark.operators.kg import describe
    got2 = sparql_query(triples, PFX + "DESCRIBE <d1> <d3>")
    want = describe(triples, "d1").unionByName(describe(triples, "d3"))
    assert sorted(tuple(r) for r in got2.collect()) == \
        sorted(tuple(r) for r in want.collect())


def test_exec_construct_where_shorthand(triples):
    got = sparql_query(triples, PFX + "CONSTRUCT WHERE "
                       "{ ?d ex:author ?a ; ex:lang 'en' }")
    rows = {tuple(r) for r in got.collect()}
    assert rows == {("d1", EX + "author", "alice"),
                    ("d1", EX + "lang", "en"),
                    ("d3", EX + "author", "bob"),
                    ("d3", EX + "lang", "en")}


def test_exec_construct(triples):
    from jsonld_spark.operators.kg import construct
    got = sparql_query(triples, PFX + "CONSTRUCT { ?a ex:wrote ?d } "
                       "WHERE { ?d ex:author ?a ; ex:lang 'en' }")
    want = construct(triples, [("?d", EX + "author", "?a"),
                               ("?d", EX + "lang", "en")],
                     [("?a", EX + "wrote", "?d")])
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_exec_plan_identical_to_programmatic(triples):
    """The front-end must add nothing to the plan: same optimized plan
    text as the hand-written call."""
    got = sparql_query(triples, PFX + "SELECT * WHERE "
                       "{ ?d ex:author ?a ; ex:lang 'en' }")
    want = bgp_match(triples, [("?d", EX + "author", "?a"),
                               ("?d", EX + "lang", "en")])
    import re

    def norm(df):
        # expression IDs (#NNN) differ per plan instance; shape must not
        return re.sub(r"#\d+", "#",
                      df._jdf.queryExecution().optimizedPlan().toString())

    assert norm(got) == norm(want)


# ---------------------------------------------------------------------------
# SPARQL 1.1 subqueries (compiled to bgp_match solution_joins)
# ---------------------------------------------------------------------------

def test_parse_subquery():
    q = _parse(PFX + """SELECT ?d WHERE {
        ?d ex:lang 'en' .
        { SELECT ?d WHERE { ?d ex:author 'alice' } }
    }""")
    assert len(q.where.subqueries) == 1
    sq = q.where.subqueries[0]
    assert sq.form == "select"
    assert sq.where.patterns == [("?d", EX + "author", "alice")]


def test_exec_subquery_shared_var_join(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        ?d ex:lang 'en' .
        { SELECT ?d ?a WHERE { ?d ex:author ?a } }
    }""")
    assert _rows(got) == [("d1", "alice"), ("d3", "bob")]


def test_exec_subquery_grouped(triples):
    # citation count per author's docs, via a grouped subquery
    got = sparql_query(triples, PFX + """SELECT ?d ?n WHERE {
        ?d ex:author 'alice' .
        { SELECT ?d (COUNT(?o) AS ?n) WHERE { ?d ex:cites ?o }
          GROUP BY ?d }
    }""")
    assert _rows(got) == [("d1", 1), ("d2", 1)]


def test_exec_scalar_subquery_argmax(triples):
    # classic idiom: rows achieving the global max
    got = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:cites ?o .
        { SELECT (MAX(?c) AS ?m) WHERE { ?x ex:cites ?c } }
        FILTER(?o = ?m)
    }""")
    assert _rows(got) == [("d2",)]


def test_exec_subquery_only_member(triples):
    got = sparql_query(triples, PFX + """SELECT ?d WHERE {
        { SELECT ?d WHERE { ?d ex:lang 'en' } }
        FILTER(?d != 'd3')
    }""")
    assert _rows(got) == [("d1",)]


def test_subquery_limit_inside(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        ?d ex:author ?a .
        { SELECT ?a WHERE { ?x ex:author ?a } ORDER BY ?a LIMIT 1 }
    }""")
    assert _rows(got) == [("d1", "alice"), ("d2", "alice")]


def test_subquery_nullable_join_var_raises(triples):
    # the subquery's ?r comes from an OPTIONAL → may be unbound →
    # unsafe join key
    with pytest.raises(ValueError, match="nullable|unbound"):
        sparql_query(triples, PFX + """SELECT ?d ?r WHERE {
            ?d ex:reviewer ?r .
            { SELECT ?d ?r WHERE { ?d ex:lang ?l
                OPTIONAL { ?d ex:reviewer ?r } } }
        }""").collect()


def test_subquery_disjoint_nonscalar_raises(triples):
    with pytest.raises(ValueError, match="cartesian|disjoint"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:lang ?l .
            { SELECT ?a WHERE { ?x ex:author ?a } }
        }""").collect()


def test_ask_with_subquery(triples):
    # subqueries inside ASK compile through the SELECT machinery
    assert sparql_query(triples, PFX + """ASK {
        { SELECT ?d WHERE { ?d ex:lang 'en' } } }""") is True
    assert sparql_query(triples, PFX + """ASK {
        ?d ex:author 'bob' .
        { SELECT ?d WHERE { ?d ex:lang 'de' } } }""") is False


def test_exec_subquery_in_construct(triples):
    got = sparql_query(triples, PFX + """CONSTRUCT { ?d ex:tag 'en' }
        WHERE {
        ?d ex:lang 'en' .
        { SELECT ?d WHERE { ?d ex:author 'alice' } }
    }""")
    assert _rows(got) == [("d1", EX + "tag", "en")]


# ---------------------------------------------------------------------------
# blank nodes in patterns
# ---------------------------------------------------------------------------

def test_bnode_label_joins_and_is_not_projected(triples):
    got = sparql_query(triples, PFX + """SELECT * WHERE {
        _:d ex:author 'alice' . _:d ex:lang ?l }""")
    assert got.columns == ["l"]
    assert _rows(got) == [("de",), ("en",)]


def test_anon_bnode_object(triples):
    got = sparql_query(triples, PFX +
                       "SELECT ?d WHERE { ?d ex:cites [] }")
    assert _rows(got) == [("d1",), ("d2",)]


def test_bnode_property_list_parses():
    # property lists are now desugared (see the dedicated tests below)
    q = _parse(PFX + "SELECT ?d WHERE { ?d ex:cites [ ex:lang 'en' ] }")
    assert len(q.where.patterns) == 2


def test_construct_template_bnode_mints_per_solution(triples):
    # SPARQL §16.2: a template blank node is a FRESH node per
    # solution, shared across that solution's template triples
    got = sparql_query(triples, PFX + """CONSTRUCT {
        _:z ex:of ?d . _:z ex:by ?a }
        WHERE { ?d ex:author ?a ; ex:lang 'en' }""")
    rows = _rows(got)
    assert len(rows) == 4  # 2 solutions x 2 template triples
    of = {r[2]: r[0] for r in rows if r[1] == EX + "of"}
    by = {r[2]: r[0] for r in rows if r[1] == EX + "by"}
    # distinct solutions mint distinct nodes ...
    assert of["d1"] != of["d3"]
    # ... and one solution's two template triples share ONE node
    assert of["d1"] == by["alice"] and of["d3"] == by["bob"]
    assert all(n.startswith("_:m") for n in of.values())
    # deterministic: re-running mints the same ids
    assert _rows(sparql_query(triples, PFX + """CONSTRUCT {
        _:z ex:of ?d . _:z ex:by ?a }
        WHERE { ?d ex:author ?a ; ex:lang 'en' }""")) == rows


def test_construct_template_anon_bnode_property_list(triples):
    # [ ... ] in a template desugars to a minted fresh node
    got = sparql_query(triples, PFX + """CONSTRUCT {
        ?d ex:entry [ ex:by ?a ] }
        WHERE { ?d ex:author ?a ; ex:lang 'en' }""")
    rows = _rows(got)
    assert len(rows) == 4
    entry = {r[0]: r[2] for r in rows if r[1] == EX + "entry"}
    by = {r[0]: r[2] for r in rows if r[1] == EX + "by"}
    assert entry["d1"] != entry["d3"]
    assert by[entry["d1"]] == "alice" and by[entry["d3"]] == "bob"


def test_construct_template_bnode_distinct_labels_distinct_nodes(
        triples):
    got = sparql_query(triples, PFX + """CONSTRUCT {
        _:x ex:of ?d . _:y ex:of ?d }
        WHERE { ?d ex:lang 'de' }""")
    rows = _rows(got)
    assert len(rows) == 2 and rows[0][0] != rows[1][0]


def test_construct_over_union_with_template_bnode(triples):
    got = sparql_query(triples, PFX + """CONSTRUCT { _:e ex:about ?a }
        WHERE { { ?a ex:cites ?o } UNION { ?o ex:cites ?a } }""")
    rows = _rows(got)
    assert {r[2] for r in rows} == {"d1", "d2", "d3"}
    assert all(r[0].startswith("_:m") for r in rows)


# ---------------------------------------------------------------------------
# CONSTRUCT over UNION
# ---------------------------------------------------------------------------

def test_exec_construct_over_union(triples):
    got = sparql_query(triples, PFX + """CONSTRUCT { ?a ex:touches ?b }
        WHERE { { ?a ex:cites ?b } UNION { ?b ex:cites ?a } }""")
    assert _rows(got) == sorted([
        ("d1", EX + "touches", "d2"), ("d2", EX + "touches", "d3"),
        ("d2", EX + "touches", "d1"), ("d3", EX + "touches", "d2")])


def test_union_mixed_with_pattern(triples):
    # Join(Union(A, B), rest): the shared variable ?d is bound in
    # every branch, so the join is a plain inner join
    got = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        ?d ex:lang 'en' .
        { ?d ex:author ?a } UNION { ?d ex:reviewer ?a } }""")
    assert _rows(got) == [("d1", "alice"), ("d1", "rev1"),
                          ("d3", "bob")]
    # leading-union form compiles the same
    got2 = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        { ?d ex:author ?a } UNION { ?d ex:reviewer ?a }
        ?d ex:lang 'en' . }""")
    assert _rows(got2) == _rows(got)


def test_union_mixed_with_filter_and_optional(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?o ?r WHERE {
        { ?d ex:cites ?o } UNION { ?o ex:cites ?d }
        ?d ex:lang 'en'
        OPTIONAL { ?d ex:reviewer ?r }
        FILTER (?o != 'd9') }""")
    assert _rows(got) == [("d1", "d2", "rev1"), ("d3", "d2", None)]


def test_union_only_with_filter(triples):
    # a union block followed only by a FILTER: the union's solution
    # set seeds the group and the filter applies to it
    got = sparql_query(triples, PFX + """SELECT ?d ?x WHERE {
        { ?d ex:author ?x } UNION { ?d ex:reviewer ?x }
        FILTER (?x = 'rev1' || ?x = 'bob') }""")
    assert _rows(got) == [("d1", "rev1"), ("d3", "bob")]


def test_union_nullable_join_var_raises(triples):
    # ?a is bound by only one branch (nullable) AND is the join key
    # with the required pattern — bgp_match refuses (typed) rather
    # than silently dropping rows via Spark's null != null
    with pytest.raises(ValueError, match="unbound|nullable|null"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a .
            { ?x ex:cites ?d . ?x ex:author ?a }
            UNION { ?x ex:cites ?d } }""").collect()


def test_union_meta_builtin_over_union_var_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="UNION-bound"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:lang 'en' .
            { ?d ex:author ?a } UNION { ?d ex:reviewer ?a }
            FILTER (isLiteral(?a)) }""")


def test_nested_plain_group_after_members_inlines(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        ?d ex:lang 'en' . { ?d ex:author ?a } }""")
    want = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        ?d ex:lang 'en' . ?d ex:author ?a }""")
    assert _rows(got) == _rows(want)


def test_optional_over_union(triples):
    # OPTIONAL { { A } UNION { B } } = LeftJoin(rest, Union(A, B)):
    # d1 cites d2 (branch 1), d3 is cited by d2 (branch 2), d2 both
    got = sparql_query(triples, PFX + """SELECT ?d ?o WHERE {
        ?d ex:author ?a .
        OPTIONAL { { ?d ex:cites ?o } UNION { ?o ex:cites ?d } } }""")
    assert _rows(got) == [("d1", "d2"), ("d2", "d1"), ("d2", "d3"),
                          ("d3", "d2")]
    # group FILTER applies to the union's solutions before the join,
    # so a filtered-out optional row leaves ?o unbound, not dropped
    got2 = sparql_query(triples, PFX + """SELECT ?d ?o WHERE {
        ?d ex:author ?a .
        OPTIONAL { { ?d ex:cites ?o } UNION { ?o ex:cites ?d }
                   FILTER (?o != 'd2') } }""")
    assert _rows(got2) == [("d1", None), ("d2", "d1"), ("d2", "d3"),
                           ("d3", None)]


def test_optional_union_unbound_join_key_raises(triples):
    # ?a is the join key but only branch 1 binds it
    with pytest.raises(ValueError, match="every UNION branch"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a .
            OPTIONAL { { ?x ex:cites ?d . ?x ex:author ?a }
                       UNION { ?x ex:cites ?d } } }""").collect()


def test_optional_union_mixed_with_patterns_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="lift the"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a .
            OPTIONAL { ?d ex:lang ?l
                       { ?d ex:cites ?o } UNION { ?o ex:cites ?d } } }""")


def test_optional_nested_plain_group_inlines(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?r WHERE {
        ?d ex:author ?a . OPTIONAL { { ?d ex:reviewer ?r } } }""")
    want = sparql_query(triples, PFX + """SELECT ?d ?r WHERE {
        ?d ex:author ?a . OPTIONAL { ?d ex:reviewer ?r } }""")
    assert _rows(got) == _rows(want)


def test_parse_nested_optional_entry_form():
    q = _parse(PFX + """SELECT * WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?o ex:cites ?d OPTIONAL { ?o ex:reviewer ?r }
                   FILTER (?o != 'd9') } }""")
    assert q.where.optional == [{
        "patterns": [("?o", EX + "cites", "?d")],
        "optional": [("?o", EX + "reviewer", "?r")],
        "filters": ["(`o` != 'd9')"],
    }]


def test_exec_nested_optional(triples):
    # group matches iff something cites ?d; the inner OPTIONAL adds
    # the citing doc's reviewer when present. d1 is cited by nothing
    # (its own reviewer must NOT leak in), d2 is cited by d1 (reviewer
    # rev1), d3 is cited by d2 (no reviewer).
    got = sparql_query(triples, PFX + """SELECT ?d ?o ?r WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?o ex:cites ?d OPTIONAL { ?o ex:reviewer ?r } } }""")
    assert _rows(got) == [("d1", None, None), ("d2", "d1", "rev1"),
                          ("d3", "d2", None)]
    # matches the programmatic algebra form
    want = bgp_match(
        triples, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?o", EX + "cites", "?d")],
                   "optional": [("?o", EX + "reviewer", "?r")]}]
    ).select("d", "o", "r")
    assert _rows(got) == _rows(want)


def test_exec_nested_optional_union_body(triples):
    # an inner OPTIONAL whose body is a UNION: recursion composes the
    # union-dict entry form inside the nested group
    got = sparql_query(triples, PFX + """SELECT ?d ?o ?x WHERE {
        ?d ex:lang 'en' .
        OPTIONAL { ?d ex:cites ?o
                   OPTIONAL { { ?o ex:cites ?x }
                              UNION { ?x ex:cites ?o } } } }""")
    assert _rows(got) == [("d1", "d2", "d1"), ("d1", "d2", "d3"),
                          ("d3", None, None)]


def test_nested_optional_only_body_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="required part"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a .
            OPTIONAL { OPTIONAL { ?d ex:reviewer ?r } } }""")


def test_nested_optional_inner_join_key_raises(triples):
    # ?r is bound outside AND only by the group's inner optional
    with pytest.raises(ValueError, match="inner OPTIONAL"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a . ?d ex:reviewer ?r .
            OPTIONAL { ?d ex:lang ?l
                       OPTIONAL { ?d ex:reviewer ?r } } }""").collect()


def test_exec_optional_group_bind(triples):
    # BIND inside an OPTIONAL body: Extend over the group's solutions
    # (applied before group filters, which may reference the var);
    # non-matching docs keep the bind var null too
    got = sparql_query(triples, PFX + """SELECT ?d ?o ?tag WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?o BIND(UCASE(?o) AS ?tag) } }""")
    assert _rows(got) == [("d1", "d2", "D2"), ("d2", "d3", "D3"),
                          ("d3", None, None)]
    got2 = sparql_query(triples, PFX + """SELECT ?d ?o ?tag WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?o BIND(UCASE(?o) AS ?tag)
                   FILTER (?tag = 'D2') } }""")
    assert _rows(got2) == [("d1", "d2", "D2"), ("d2", None, None),
                           ("d3", None, None)]


def test_exec_optional_union_bind(triples):
    # BIND over a UNION body: Extend(Union(A, B), var, expr)
    got = sparql_query(triples, PFX + """SELECT ?d ?x ?k WHERE {
        ?d ex:lang 'en' .
        OPTIONAL { { ?d ex:cites ?x } UNION { ?d ex:reviewer ?x }
                   BIND(CONCAT(?x, '!') AS ?k) } }""")
    assert _rows(got) == [("d1", "d2", "d2!"), ("d1", "rev1", "rev1!"),
                          ("d3", None, None)]


def test_optional_bind_only_body_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="required part"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a . OPTIONAL { BIND(1 AS ?z) } }""")


def test_optional_bind_rebind_raises(triples):
    with pytest.raises(ValueError, match="rebind"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a .
            OPTIONAL { ?d ex:cites ?o BIND(UCASE(?o) AS ?o) } }""")


def test_optional_bind_join_key_raises(triples):
    # a bind var may evaluate to null, so it can't be the outer key
    with pytest.raises(ValueError, match="BIND"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a . ?d ex:reviewer ?r .
            OPTIONAL { ?d ex:cites ?o
                       BIND(UCASE(?o) AS ?r) } }""").collect()


def test_exec_optional_group_not_exists(triples):
    # FILTER NOT EXISTS inside an OPTIONAL body: the negation applies
    # to the GROUP's solutions — a rejected group row leaves the
    # optional vars null, it does NOT drop the outer solution
    got = sparql_query(triples, PFX + """SELECT ?d ?o WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?o
                   FILTER NOT EXISTS { ?o ex:lang 'de' } } }""")
    # d1 cites d2 (lang de -> group row rejected -> ?o null);
    # d2 cites d3 (lang en -> kept); d3 cites nothing
    assert _rows(got) == [("d1", None), ("d2", "d3"), ("d3", None)]
    got2 = sparql_query(triples, PFX + """SELECT ?d ?o WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?o
                   FILTER EXISTS { ?o ex:lang 'en' } } }""")
    assert _rows(got2) == [("d1", None), ("d2", "d3"), ("d3", None)]
    got3 = sparql_query(triples, PFX + """SELECT ?d ?o WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?o MINUS { ?o ex:lang 'de' } } }""")
    # d2 (lang de) removed from the group -> d1's row keeps ?o null
    assert _rows(got3) == [("d1", None), ("d2", "d3"), ("d3", None)]


def test_exec_optional_group_values(triples):
    # in-group VALUES constrains the group's solutions; a rejected
    # optional row leaves the var null rather than dropping the doc
    got = sparql_query(triples, PFX + """SELECT ?d ?o WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?o VALUES ?o { 'd3' } } }""")
    assert _rows(got) == [("d1", None), ("d2", "d3"), ("d3", None)]


def test_exec_optional_values_constrained_join_key(triples):
    # a VALUES var with no UNDEF cell is provably non-null in the
    # group's solutions, so it may serve as the outer join key even
    # though it is not bound by a group triple pattern
    got = sparql_query(triples, PFX + """SELECT ?d ?l ?r WHERE {
        ?d ex:lang ?l .
        OPTIONAL { ?d ex:reviewer ?r VALUES ?l { 'en' } } }""")
    assert _rows(got) == [("d1", "en", "rev1"), ("d2", "de", None),
                          ("d3", "en", None)]
    # an UNDEF cell keeps the typed refusal
    with pytest.raises(ValueError, match="null"):
        sparql_query(triples, PFX + """SELECT ?d ?l ?r WHERE {
            ?d ex:lang ?l .
            OPTIONAL { ?d ex:reviewer ?r
                       VALUES ?l { 'en' UNDEF } } }""").collect()


def test_exec_optional_subquery(triples):
    # a subquery as the ONLY OPTIONAL-body member seeds the group's
    # solutions (attach-an-aggregate idiom): docs outside the
    # subquery's groups keep a null ?n
    got = sparql_query(triples, PFX + """SELECT ?d ?n WHERE {
        ?d ex:author ?a .
        OPTIONAL { { SELECT ?d (COUNT(?o) AS ?n)
                     WHERE { ?d ex:cites ?o } GROUP BY ?d } } }""")
    assert _rows(got) == [("d1", 1), ("d2", 1), ("d3", None)]
    # subquery + pattern: the argmax idiom inside OPTIONAL
    got2 = sparql_query(triples, PFX + """SELECT ?d ?top WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?top
                   { SELECT ?d (MAX(?o) AS ?top)
                     WHERE { ?d ex:cites ?o } GROUP BY ?d } } }""")
    assert _rows(got2) == [("d1", "d2"), ("d2", "d3"), ("d3", None)]


def test_optional_subquery_union_mix_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="UNION mixed"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a .
            OPTIONAL { { ?d ex:cites ?x } UNION { ?x ex:cites ?d }
                       { SELECT ?d WHERE { ?d ex:cites ?o } } } }""")


def test_optional_negation_sees_group_bind_var(triples):
    # a NOT EXISTS member referencing a group BIND variable must
    # correlate on the BOUND value (bgp_match applies binds before
    # its negation joins), not treat it as a free variable
    got = sparql_query(triples, PFX + """SELECT ?d ?o ?b WHERE {
        ?d ex:author ?a .
        OPTIONAL { ?d ex:cites ?o BIND(CONCAT('d', '2') AS ?b)
                   FILTER NOT EXISTS { ?d ex:cites ?b } } }""")
    # d1 cites d2 and ?b='d2' -> (d1, cites, 'd2') exists -> group row
    # rejected -> nulls; d2 cites d3, (d2, cites, 'd2') absent -> kept
    assert _rows(got) == [("d1", None, None), ("d2", "d3", "d2"),
                          ("d3", None, None)]


def test_embedded_exists_inside_exists_body_raises(triples):
    # the _allow_exists flag must not leak into the EXISTS body: an
    # embedded EXISTS in the body's own FILTER raises typed
    with pytest.raises(SparqlUnsupportedError, match="group-level"):
        sparql_query(triples, PFX + """SELECT ?d WHERE {
            ?d ex:author ?a .
            FILTER(?a = 'x' || EXISTS { ?d ex:cites ?o
                FILTER(?o = 'y' || EXISTS { ?o ex:lang ?l }) }) }""")


def test_multiple_values_in_group_join(triples):
    # two VALUES blocks in one group JOIN (SPARQL inline tables), not
    # a UNDEF-padded row union
    got = sparql_query(triples, PFX + """SELECT ?d ?x ?y WHERE {
        ?d ex:lang 'en' .
        VALUES ?x { '1' '2' } VALUES ?y { 'a' } }""")
    assert _rows(got) == [("d1", "1", "a"), ("d1", "2", "a"),
                          ("d3", "1", "a"), ("d3", "2", "a")]
    # shared-var join constrains: only compatible rows survive
    got2 = sparql_query(triples, PFX + """SELECT ?d ?x WHERE {
        ?d ex:lang 'en' .
        VALUES ?x { '1' '2' } VALUES ?x { '2' '3' } }""")
    assert _rows(got2) == [("d1", "2"), ("d3", "2")]
    # an empty join (or an empty VALUES block) admits no solution
    got3 = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:lang 'en' .
        VALUES ?x { '1' } VALUES ?x { '2' } }""")
    assert _rows(got3) == []


def test_group_by_key_in_where_filter_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="out of scope"):
        sparql_query(triples, PFX + """SELECT ?k (COUNT(?a) AS ?n)
            WHERE { ?d ex:author ?a FILTER(?k != 'z') }
            GROUP BY (SUBSTR(?a, 1, 1) AS ?k)""")


def test_optional_group_negation_outer_var_raises(triples):
    with pytest.raises(ValueError, match="outer variables"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a . ?d ex:reviewer ?rv .
            OPTIONAL { ?d ex:cites ?o
                       FILTER NOT EXISTS { ?o ex:cites ?rv } }
            }""").collect()


def test_optional_negation_only_body_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="required part"):
        sparql_query(triples, PFX + """SELECT * WHERE {
            ?d ex:author ?a .
            OPTIONAL { FILTER NOT EXISTS { ?d ex:lang ?l } } }""")


def test_nested_optional_in_not_exists(triples):
    # an OPTIONAL inside a negation body compiles via the recursive
    # bgp_match; a left join never changes row EXISTENCE, so this
    # equals NOT EXISTS over the required pattern alone
    got = sparql_query(triples, PFX + """SELECT * WHERE {
        ?d ex:author ?a .
        FILTER NOT EXISTS { ?d ex:cites ?o
                            OPTIONAL { ?o ex:lang ?l } } }""")
    assert _rows(got) == [("d3", "bob")]


def test_filter_expression_embedded_exists(triples):
    # EXISTS as a VALUE inside a boolean FILTER expression compiles
    # to marker left joins (it cannot be a semi/anti join)
    got = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:author ?a .
        FILTER(EXISTS { ?d ex:reviewer ?r }
               || EXISTS { ?d ex:cites ?o }) }""")
    # d1 reviewer+cites, d2 cites, d3 neither
    assert _rows(got) == [("d1",), ("d2",)]
    got2 = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:author ?a .
        FILTER(?a = 'bob' || NOT EXISTS { ?d ex:cites ?o }) }""")
    # bob (d3), plus docs citing nothing (d3 only) -> d3
    assert _rows(got2) == [("d3",)]
    # the !EXISTS spelling and conjunction with a comparison
    got3 = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:author ?a .
        FILTER(!EXISTS { ?d ex:reviewer ?r } && ?a = 'alice') }""")
    assert _rows(got3) == [("d2",)]
    # ASK routes through the same machinery
    assert sparql_query(triples, PFX + """ASK WHERE { ?d ex:author ?a
        FILTER(?a = 'alice' && EXISTS { ?d ex:cites ?x }) }""") is True


def test_embedded_exists_outside_filter_raises(triples):
    with pytest.raises(SparqlUnsupportedError, match="group-level"):
        sparql_query(triples, PFX + """SELECT
            (IF(EXISTS { ?d ex:cites ?o }, 1, 0) AS ?x)
            WHERE { ?d ex:author ?a }""")


def test_order_by_expression(triples):
    got = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        ?d ex:author ?a } ORDER BY STRLEN(?a) DESC(?d)""")
    # bob (3) before alice (5); within alice, d2 before d1 (DESC ?d)
    assert [tuple(r) for r in got.collect()] == [
        ("d3", "bob"), ("d2", "alice"), ("d1", "alice")]
    got2 = sparql_query(triples, PFX + """SELECT ?d ?a WHERE {
        ?d ex:author ?a } ORDER BY (STRLEN(?a)) ?d""")
    assert [tuple(r) for r in got2.collect()] == [
        ("d3", "bob"), ("d1", "alice"), ("d2", "alice")]


def test_group_by_expression_key(triples):
    # GROUP BY (expr AS ?k) binds the key per SPARQL §18.2.4.1
    # (desugared to Extend-before-Group)
    got = sparql_query(triples, PFX + """SELECT ?k (COUNT(?a) AS ?n)
        WHERE { ?d ex:author ?a }
        GROUP BY (SUBSTR(?a, 1, 1) AS ?k) ORDER BY ?k""")
    assert [tuple(r) for r in got.collect()] == [("a", 2), ("b", 1)]
    with pytest.raises(SparqlUnsupportedError, match="name it"):
        sparql_query(triples, PFX + """SELECT ?k WHERE {
            ?d ex:author ?a } GROUP BY SUBSTR(?a, 1, 1)""")


def test_sameterm_distinguishes_lang_tagged(spark):
    # sameTerm(A, B) is RDF-term identity: 'apple' (plain) and
    # 'apple'@en share a lexical value but are different terms, so
    # only the two identity pairs survive
    rows = [
        ("d1", EX + "label", "apple", "literal", None, None),
        ("d1", EX + "label", "apple", "literal", "en", None),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, "
              "obj_kind string, obj_lang string, obj_datatype string")
    got = sparql_query(t, PFX + """SELECT (COUNT(*) AS ?n) WHERE {
        ?d ex:label ?a . ?d ex:label ?b
        FILTER(sameTerm(?a, ?b)) }""")
    assert got.collect()[0].n == 2
    # non-variable argument raises the typed unsupported error
    with pytest.raises(SparqlUnsupportedError, match="SAMETERM"):
        sparql_query(t, PFX + """SELECT * WHERE {
            ?d ex:label ?a FILTER(sameTerm(?a, 'apple')) }""")


def test_not_exists_over_union(triples):
    # NOT EXISTS{A UNION B} = NOT EXISTS{A} AND NOT EXISTS{B}:
    # d1 cites + has reviewer, d2 cites; only d3 matches neither
    got = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:author ?a .
        FILTER NOT EXISTS { { ?d ex:cites ?x }
                            UNION { ?d ex:reviewer ?x } } }""")
    assert _rows(got) == [("d3",)]
    # equals the explicit AND decomposition
    want = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:author ?a .
        FILTER NOT EXISTS { ?d ex:cites ?x }
        FILTER NOT EXISTS { ?d ex:reviewer ?x } }""")
    assert _rows(got) == _rows(want)


def test_not_exists_union_with_group_filter(triples):
    # union solutions (d,x): (d1,d2),(d2,d3); FILTER keeps only
    # (d2,d3), so only d2 is excluded
    got = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:author ?a .
        FILTER NOT EXISTS { { ?d ex:cites ?x }
                            UNION { ?d ex:reviewer ?x }
                            FILTER (?x = 'd3') } }""")
    assert _rows(got) == [("d1",), ("d3",)]


def test_exists_over_union_is_or_and_bag_correct(triples):
    # EXISTS{A UNION B} = OR: d1 matches BOTH branches but appears
    # exactly once (marker left joins — no row multiplication)
    got = sparql_query(triples, PFX + """SELECT ?d WHERE {
        ?d ex:author ?a .
        FILTER EXISTS { { ?d ex:reviewer ?r }
                        UNION { ?d ex:cites ?x } } }""")
    assert _rows(got) == [("d1",), ("d2",)]


def test_minus_over_union(triples):
    # MINUS removals union across branches: d1 (cites, reviewer)
    # and d2 (cites) removed; d3 survives with its lang binding
    got = sparql_query(triples, PFX + """SELECT ?d ?l WHERE {
        ?d ex:lang ?l .
        MINUS { { ?d ex:cites ?x } UNION { ?d ex:reviewer ?x } } }""")
    assert _rows(got) == [("d3", "en")]


def test_group_union_filter_not_bound_every_branch_raises(triples):
    with pytest.raises(ValueError, match="every UNION branch"):
        sparql_query(triples, PFX + """SELECT ?d WHERE {
            ?d ex:author ?a .
            FILTER NOT EXISTS { { ?d ex:cites ?x }
                                UNION { ?d ex:reviewer ?y }
                                FILTER (?x != 'q') } }""").collect()


def test_exists_union_correlated_filter_raises(triples):
    with pytest.raises(ValueError, match="correlated"):
        sparql_query(triples, PFX + """SELECT ?d WHERE {
            ?d ex:author ?a .
            FILTER EXISTS { { ?d ex:cites ?x }
                            UNION { ?d ex:reviewer ?x }
                            FILTER (?x != ?a) } }""").collect()


def test_construct_with_inline_union(triples):
    got = sparql_query(triples, PFX + """CONSTRUCT { ?d ex:touch ?o }
        WHERE { ?d ex:lang 'en' .
                { ?d ex:cites ?o } UNION { ?o ex:cites ?d } }""")
    assert _rows(got) == sorted([
        ("d1", EX + "touch", "d2"), ("d3", EX + "touch", "d2")])


def test_ask_with_inline_union(triples):
    assert sparql_query(triples, PFX + """ASK { ?d ex:lang 'en' .
        { ?d ex:cites ?o } UNION { ?o ex:cites ?d } }""") is True
    assert sparql_query(triples, PFX + """ASK { ?d ex:lang 'fr' .
        { ?d ex:cites ?o } UNION { ?o ex:cites ?d } }""") is False


def test_ask_with_optional_and_bind(triples):
    # OPTIONAL alone never changes an existence answer …
    assert sparql_query(triples, PFX + """ASK { ?d ex:author 'bob' .
        OPTIONAL { ?d ex:reviewer ?r } }""") is True
    # … but a group FILTER over the optional variable can: BOUND(?r)
    # is false for bob's doc (d3 has no reviewer)
    assert sparql_query(triples, PFX + """ASK { ?d ex:author 'bob' .
        OPTIONAL { ?d ex:reviewer ?r } FILTER (BOUND(?r)) }""") is False
    assert sparql_query(triples, PFX + """ASK { ?d ex:author 'alice' .
        OPTIONAL { ?d ex:reviewer ?r } FILTER (BOUND(?r)) }""") is True
    # BIND feeding a FILTER changes existence too
    assert sparql_query(triples, PFX + """ASK { ?d ex:author ?a .
        BIND (STRLEN(?a) AS ?n) FILTER (?n > 4) }""") is True
    assert sparql_query(triples, PFX + """ASK { ?d ex:author ?a .
        BIND (STRLEN(?a) AS ?n) FILTER (?n > 9) }""") is False


def test_construct_over_union_partial_template_binding(triples):
    # a template triple not bound by a branch is skipped per branch
    got = sparql_query(triples, PFX + """CONSTRUCT { ?a ex:seen 'y' .
        ?r ex:rev ?a }
        WHERE { { ?a ex:cites ?o } UNION { ?a ex:reviewer ?r } }""")
    rows = _rows(got)
    assert ("rev1", EX + "rev", "d1") in rows
    assert ("d1", EX + "seen", "y") in rows and ("d2", EX + "seen", "y") in rows


def test_construct_over_union_mints_per_solution(triples):
    """Over a whole-group UNION the template instantiates once over the
    union's solutions: a template blank node is one distinct node per
    solution, and a re-run mints the same ids."""
    q = PFX + """CONSTRUCT { _:e ex:from ?a . _:e ex:to ?b }
        WHERE { { ?a ex:cites ?b } UNION { ?a ex:author ?b } }"""
    rows = _rows(sparql_query(triples, q))
    src = {r[0]: r[2] for r in rows if r[1] == EX + "from"}
    dst = {r[0]: r[2] for r in rows if r[1] == EX + "to"}
    assert sorted((src[n], dst[n]) for n in src) == [
        ("d1", "alice"), ("d1", "d2"), ("d2", "alice"), ("d2", "d3"),
        ("d3", "bob")]
    assert len(rows) == 10 and all(n.startswith("_:m") for n in src)
    assert _rows(sparql_query(triples, q)) == rows


@pytest.mark.parametrize("template, error", [
    # each branch binds one of ?a / ?r, none binds both
    ("?a ex:x ?r", SparqlSyntaxError),
    # ?z is bound by no branch at all
    ("?a ex:x ?o . ?a ex:y ?z", ValueError),
], ids=["no_branch_binds_a_triple", "unbound_template_variable"])
def test_construct_over_union_refuses_unbindable_template(triples,
                                                          template, error):
    with pytest.raises(error):
        sparql_query(triples, PFX + "CONSTRUCT { " + template + """ }
            WHERE { { ?a ex:cites ?o } UNION { ?d ex:author ?r } }""")


@pytest.mark.parametrize("nodes", [["n"], ["n", "m"]], ids=["one", "two"])
def test_describe_iri_equals_kg_describe_on_self_loop(spark, nodes):
    """DESCRIBE <n> ... filters one scan, with no join, and gives the
    rows and roles of kg.describe per node: a self-loop once, as
    subject, and a triple relating two described nodes once per role."""
    from functools import reduce
    from jsonld_spark.operators.kg import describe
    t = spark.createDataFrame(
        [("n", EX + "p", "n"), ("n", EX + "p", "m"), ("m", EX + "q", "n"),
         ("m", EX + "q", "m"), ("k", EX + "q", "k")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, "DESCRIBE " + " ".join(f"<{n}>" for n in nodes))
    want = reduce(lambda a, b: a.unionByName(b),
                  [describe(t, n) for n in nodes])
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    assert ("m", EX + "q", "n", "object") in _rows(got)
    assert "Join" not in \
        got._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("where, want", [
    ("<d1> ex:author 'alice' . <d3> ex:lang 'en'", True),
    ("<d1> ex:author 'alice' . <d3> ex:lang 'de'", False),
    ("<d1> ex:author 'bob' . <d3> ex:lang 'en'", False),
], ids=["both", "second_fails", "first_fails"])
def test_ask_constant_conjunction(triples, where, want):
    assert sparql_query(triples, PFX + f"ASK {{ {where} }}") is want


@pytest.mark.parametrize("where", [
    "<d1> ex:author 'alice'",
    "{ <d1> ex:author 'alice' } UNION { ?d ex:lang ?l }",
    "?d ex:lang ?l OPTIONAL { { <d1> ex:author 'alice' } "
    "UNION { ?d ex:cites ?o } }",
    "?d ex:lang ?l { SELECT * WHERE { { <d1> ex:author 'alice' } "
    "UNION { ?d ex:cites ?o } } }",
], ids=["group", "union_branch", "union_in_optional",
        "union_in_subquery"])
def test_all_constant_group_refused(triples, where):
    """A query group, or a UNION branch in it, in an OPTIONAL body or in
    a subquery, whose patterns are all constant binds nothing: every
    form that returns solutions refuses it, and ASK refuses the UNION
    branch too."""
    with pytest.raises(ValueError, match="all patterns are constant"):
        sparql_query(triples, PFX + f"SELECT * WHERE {{ {where} }}")
    if "UNION" in where:
        with pytest.raises(ValueError, match="all patterns are constant"):
            sparql_query(triples, PFX + f"ASK {{ {where} }}")
    else:
        assert sparql_query(triples, PFX + f"ASK {{ {where} }}") is True


# ---------------------------------------------------------------------------
# term-metadata builtins: LANG / DATATYPE / isIRI / isLiteral / isBlank
# ---------------------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_LS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


@pytest.fixture()
def typed_triples(spark):
    rows = [
        ("d1", EX + "name", "literal", "chat", XSD + "string", None),
        ("d1", EX + "name", "literal", "chat", None, "fr"),
        ("d1", EX + "link", "iri", "http://x/d2", None, None),
        ("d1", EX + "n", "literal", "5", XSD + "integer", None),
        ("_:b1", EX + "name", "literal", "hi", XSD + "string", "en-GB"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_kind string, "
              "obj_value string, obj_datatype string, obj_lang string")


def test_lang_filter_and_term_identity(typed_triples):
    # the plain and @fr "chat" literals are DISTINCT terms — both
    # solutions exist, and LANG() separates them
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?s ?o WHERE { ?s ex:name ?o "
                       "FILTER(LANG(?o) = 'fr') }")
    assert _rows(got) == [("d1", "chat")]
    none = sparql_query(typed_triples, PFX +
                        "SELECT ?s ?o WHERE { ?s ex:name ?o "
                        "FILTER(LANG(?o) = '') }")
    assert _rows(none) == [("d1", "chat")]


def test_datatype_builtin(typed_triples):
    got = sparql_query(
        typed_triples, PFX + f"PREFIX xsd: <{XSD}> "
        "SELECT ?o WHERE { ?s ?p ?o FILTER(DATATYPE(?o) = xsd:integer) }")
    assert _rows(got) == [("5",)]
    # lang-tagged literal → rdf:langString
    ls = sparql_query(
        typed_triples, PFX +
        f"SELECT ?o WHERE {{ ?s ex:name ?o "
        f"FILTER(DATATYPE(?o) = <{RDF_LS}>) }}")
    assert _rows(ls) == [("chat",), ("hi",)]
    # DATATYPE of an IRI is a type error → solution drops
    iri = sparql_query(
        typed_triples, PFX + f"PREFIX xsd: <{XSD}> "
        "SELECT ?o WHERE { ?s ex:link ?o "
        "FILTER(DATATYPE(?o) = xsd:string) }")
    assert _rows(iri) == []


def test_is_kind_builtins(typed_triples):
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?o WHERE { ?s ?p ?o FILTER(isIRI(?o)) }")
    assert _rows(got) == [("http://x/d2",)]
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?s WHERE { ?s ex:name ?o "
                       "FILTER(isBlank(?s)) }")
    assert _rows(got) == [("_:b1",)]
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?s WHERE { ?s ?p ?o "
                       "FILTER(isLiteral(?o) && isIRI(?s)) }")
    assert ("d1",) in _rows(got) and ("_:b1",) not in _rows(got)


def test_meta_over_union_bound_var(typed_triples):
    # LANG()/DATATYPE() over a variable bound by UNION branches: each
    # branch emits its own term metadata; the union dedups by TERM
    # identity (plain vs @fr "chat" are distinct solutions)
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?o (LANG(?o) AS ?l) WHERE { "
                       "{ ?s ex:name ?o } UNION { ?s ex:n ?o } }")
    rows = {tuple(r) for r in got.collect()}
    assert rows == {("chat", ""), ("chat", "fr"), ("hi", "en-GB"),
                    ("5", "")}
    # a var bound in only ONE branch: the other branch pads null
    # metadata, so isLiteral(?o) is NULL there (never true)
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?s ?o WHERE { "
                       "{ ?s ex:n ?o FILTER(isLiteral(?o)) } UNION "
                       "{ ?s ex:link ?x } }")
    rows = {tuple(r) for r in got.collect()}
    assert rows == {("d1", "5"), ("d1", None)}


def test_langmatches_range(typed_triples):
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?o WHERE { ?s ex:name ?o "
                       "FILTER(LANGMATCHES(LANG(?o), 'en')) }")
    assert _rows(got) == [("hi",)]    # en-GB matches range en
    star = sparql_query(typed_triples, PFX +
                        "SELECT ?o WHERE { ?s ex:name ?o "
                        "FILTER(LANGMATCHES(LANG(?o), '*')) }")
    assert _rows(star) == [("chat",), ("hi",)]


def test_lang_projection_and_select_star_drops_meta(typed_triples):
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?s (LANG(?o) AS ?l) WHERE "
                       "{ ?s ex:name ?o FILTER(LANG(?o) != '') }")
    assert _rows(got) == [("_:b1", "en-GB"), ("d1", "fr")]
    star = sparql_query(typed_triples, PFX +
                        "SELECT * WHERE { ?s ex:name ?o "
                        "FILTER(isLiteral(?o)) }")
    assert star.columns == ["s", "o"]


def test_meta_builtin_requires_variable(typed_triples):
    with pytest.raises(SparqlUnsupportedError, match="plain variable"):
        sparql_query(typed_triples, PFX +
                     "SELECT ?s WHERE { ?s ex:name ?o "
                     "FILTER(LANG(STR(?o)) = 'fr') }")


def test_meta_on_frame_without_kind_columns_raises(triples):
    with pytest.raises(ValueError, match="term-metadata|obj_kind"):
        sparql_query(triples, PFX +
                     "SELECT ?o WHERE { ?d ex:author ?o "
                     "FILTER(isLiteral(?o)) }").collect()


# ---------------------------------------------------------------------------
# [ p o ] property lists and string/hash/IRI builtins
# ---------------------------------------------------------------------------

def test_bnode_property_list_object_position(triples):
    got = sparql_query(triples, PFX + "SELECT ?d WHERE "
                       "{ ?d ex:cites [ ex:lang 'en' ] }")
    assert _rows(got) == [("d2",)]   # d2 cites d3 which is lang en


def test_bnode_property_list_subject_and_nesting(triples):
    got = sparql_query(triples, PFX + "SELECT ?a WHERE "
                       "{ [ ex:author ?a ; ex:lang 'de' ] }")
    assert _rows(got) == [("alice",)]
    nested = sparql_query(triples, PFX + "SELECT ?d WHERE "
                          "{ ?d ex:cites [ ex:cites [] ] }")
    assert _rows(nested) == [("d1",)]


def test_parse_property_list_desugar():
    q = _parse(PFX + "SELECT ?s WHERE { ?s ex:p [ ex:a 'x' ; "
               "ex:b 'y' , 'z' ] }")
    pats = q.where.patterns
    bn = pats[0][2]
    assert bn.startswith("?_bn_")
    assert (bn, EX + "a", "x") in pats
    assert (bn, EX + "b", "y") in pats and (bn, EX + "b", "z") in pats


def test_str_before_after_builtins(triples):
    got = sparql_query(triples, PFX +
                       "SELECT ?a (STRAFTER(?a, 'a') AS ?rest) WHERE "
                       "{ ?d ex:author ?a "
                       "  FILTER(STRBEFORE(?a, 'lice') = 'a') }")
    assert _rows(got) == [("alice", "lice")]
    # absent needle returns '' (fn:substring-after contract)
    empty = sparql_query(triples, PFX +
                         "SELECT ?a WHERE { ?d ex:author ?a "
                         "FILTER(STRAFTER(?a, 'zzz') = '') }")
    assert ("alice",) in _rows(empty) and ("bob",) in _rows(empty)


def test_hash_builtins(triples):
    import hashlib
    got = sparql_query(triples, PFX +
                       "SELECT DISTINCT (MD5(?a) AS ?m) "
                       "(SHA256(?a) AS ?s) WHERE "
                       "{ ?d ex:author ?a FILTER(?a = 'bob') }")
    rows = _rows(got)
    assert rows == [(hashlib.md5(b"bob").hexdigest(),
                     hashlib.sha256(b"bob").hexdigest())]


def test_iri_constructor_skolem_bind(triples):
    got = sparql_query(triples, PFX + """CONSTRUCT { ?n ex:of ?d }
        WHERE { ?d ex:author ?a . ?d ex:lang 'de'
                BIND(IRI(CONCAT('http://sk/', ?a)) AS ?n) }""")
    assert _rows(got) == [("http://sk/alice", EX + "of", "d2")]


def test_expr_beside_aggregates(triples):
    got = sparql_query(triples, PFX + """
        SELECT ?l (COUNT(?d) AS ?n) (?n * 2 AS ?dbl)
               (CONCAT(?l, '!') AS ?tag)
        WHERE { ?d ex:lang ?l } GROUP BY ?l ORDER BY ?l""")
    assert _rows(got) == [("de", 1, 2, "de!"), ("en", 2, 4, "en!")]


def test_expr_beside_aggregates_ungrouped_ref_raises(triples):
    with pytest.raises(SparqlSyntaxError, match="ungrouped"):
        sparql_query(triples, PFX +
                     "SELECT (COUNT(?d) AS ?n) (STRLEN(?a) AS ?bad) "
                     "WHERE { ?d ex:author ?a }")


def test_trailing_values_clause(triples):
    # joins BEFORE projection (SPARQL 18.2.4.3): constrains shared
    # ?a; ?tier is dropped by the explicit select list unless named
    got = sparql_query(triples, PFX + """
        SELECT ?d ?a WHERE { ?d ex:author ?a }
        VALUES (?a ?tier) { ('alice' 'gold') }""")
    assert got.columns == ["d", "a"]
    assert _rows(got) == [("d1", "alice"), ("d2", "alice")]
    sel = sparql_query(triples, PFX + """
        SELECT ?d ?tier WHERE { ?d ex:author ?a }
        VALUES (?a ?tier) { ('alice' 'gold') }""")
    assert _rows(sel) == [("d1", "gold"), ("d2", "gold")]


def test_trailing_values_constrains_unprojected_var(triples):
    # the join sees pre-projection variables, so a VALUES var absent
    # from the SELECT list still constrains
    got = sparql_query(triples, PFX + """
        SELECT ?d WHERE { ?d ex:author ?a }
        VALUES ?a { 'alice' }""")
    assert _rows(got) == [("d1",), ("d2",)]


def test_trailing_values_after_limit_and_undef(triples):
    got = sparql_query(triples, PFX + """
        SELECT ?a (COUNT(?d) AS ?n) WHERE { ?d ex:author ?a }
        GROUP BY ?a ORDER BY ?a
        VALUES ?a { 'bob' }""")
    assert _rows(got) == [("bob", 1)]
    # UNDEF cell matches any binding
    undf = sparql_query(triples, PFX + """
        SELECT ?d ?a WHERE { ?d ex:author ?a }
        VALUES (?a ?tag) { (UNDEF 'x') }""")
    assert len(_rows(undf)) == 3 and undf.columns == ["d", "a"]


# ---------------------------------------------------------------------------
# review fixes: nullable tracking, LANG type error, meta guards
# ---------------------------------------------------------------------------

def test_subquery_union_padded_var_raises(triples):
    # bgp_union pads ?x with null in the branch that doesn't bind it;
    # joining the outer ?x on it must raise, not silently drop rows
    with pytest.raises(ValueError, match="nullable|unbound"):
        sparql_query(triples, PFX + """SELECT ?d ?x WHERE {
            ?d ex:lang ?x .
            { SELECT ?d ?x WHERE {
                { ?d ex:cites ?x } UNION { ?d ex:author 'bob' } } }
        }""").collect()


def test_lang_of_non_literal_is_type_error(typed_triples):
    # SPARQL: LANG of an IRI is a type error → the FILTER drops the
    # row; '' must match only no-language LITERALS
    got = sparql_query(typed_triples, PFX +
                       "SELECT ?o WHERE { ?s ?p ?o "
                       "FILTER(LANG(?o) = '') }")
    rows = _rows(got)
    assert ("http://x/d2",) not in rows          # the IRI object
    assert ("chat",) in rows and ("5",) in rows  # plain literals


def test_meta_on_path_destination_raises(typed_triples):
    with pytest.raises(ValueError, match="property-path destination"):
        sparql_query(typed_triples, PFX +
                     "SELECT ?o WHERE { ?s ex:link+ ?o "
                     "FILTER(isLiteral(?o)) }").collect()


def test_meta_never_bound_raises_clearly(typed_triples):
    from jsonld_spark.operators.kg import bgp_match
    with pytest.raises(ValueError, match="never bound"):
        bgp_match(typed_triples, [("?s", EX + "name", "?o")],
                  meta_vars={"z"},
                  filters=["`z__kind` = 'literal'"])


def test_describe_with_meta_filter(typed_triples):
    got = sparql_query(typed_triples, PFX +
                       "DESCRIBE ?s WHERE { ?s ex:name ?o "
                       "FILTER(LANGMATCHES(LANG(?o), 'en')) }")
    assert sorted({r[0] for r in got.collect()}) == ["_:b1"]


def test_having_with_direct_aggregates(triples):
    # HAVING aggregates compile to hidden columns dropped after the
    # filter — no SELECT alias needed
    got = sparql_query(triples, PFX + """
        SELECT ?a WHERE { ?d ex:author ?a } GROUP BY ?a
        HAVING(COUNT(?d) > 1)""")
    assert got.columns == ["a"]
    assert _rows(got) == [("alice",)]
    # mixed with a visible aggregate and a repeated spec
    got = sparql_query(triples, PFX + """
        SELECT ?a (MIN(?d) AS ?m) WHERE { ?d ex:author ?a }
        GROUP BY ?a HAVING(COUNT(?d) = 2 && COUNT(?d) != 3)""")
    assert _rows(got) == [("alice", "d1")]


def test_trailing_empty_values_has_no_solutions(triples):
    # an empty table joins to nothing, as the same table inside the
    # group does; no clause at all leaves the solutions alone
    assert _parse(PFX + "SELECT ?d WHERE { ?d ex:author ?a }") \
        .post_values is None
    q = PFX + "SELECT ?d WHERE { ?d ex:author ?a } VALUES ?a { }"
    assert _parse(q).post_values == []
    assert _rows(sparql_query(triples, q)) == []
    assert _rows(sparql_query(triples, PFX + """
        SELECT ?a (COUNT(?d) AS ?n) WHERE { ?d ex:author ?a }
        GROUP BY ?a VALUES ?a { }""")) == []


def test_grouped_explicit_distinct_dedups_after_project(triples):
    # one row per ?d, each counting 1: DISTINCT after Project (§18.2.5)
    # collapses them; without DISTINCT both rows stay
    body = " WHERE { ?d ex:author ?a } GROUP BY ?d"
    got = sparql_query(triples, PFX + "SELECT DISTINCT (COUNT(*) AS ?n)"
                       + body)
    assert _rows(got) == [(1,)]
    plain = sparql_query(triples, PFX + "SELECT (COUNT(*) AS ?n)" + body)
    assert _rows(plain) == [(1,), (1,), (1,)]
    # bag semantics keep duplicates unless DISTINCT is written
    dup = triples.unionByName(triples)
    q = " ?a WHERE { ?d ex:author ?a }"
    assert len(_rows(sparql_query(dup, PFX + "SELECT" + q,
                                  distinct_solutions=False))) == 6
    assert _rows(sparql_query(dup, PFX + "SELECT DISTINCT" + q,
                              distinct_solutions=False)) == \
        [("alice",), ("bob",)]


@pytest.mark.parametrize("cond,n_rows", [
    ("FILTER (1 = 'zzz')", 0),
    ("FILTER (1 != 'zzz')", 0),
    ("FILTER ('zzz' < 1)", 0),
    ("FILTER (!(1 = 'zzz'))", 0),
    ("FILTER ((1 = 'zzz') || true)", 3),
    ("FILTER (<http://x> = 1)", 0),
    ("FILTER (<http://x> != 1)", 3),
    ("GROUP BY ?d ?a HAVING (COUNT(?a) != 'zzz')", 0),
    ("GROUP BY ?d ?a HAVING (SUM(?a) < 'zzz')", 0),
    # a typed literal may be numeric: compared as before
    ("FILTER (1 = '1'^^<http://www.w3.org/2001/XMLSchema#integer>)", 3),
], ids=["eq", "ne", "lt", "not", "or_true", "iri_eq", "iri_ne",
        "having_count", "having_sum", "typed_literal"])
def test_numeric_vs_string_literal_is_a_type_error(triples, cond, n_rows):
    """No typed comparison exists between a number and a string
    literal: the solution drops (SPARQL's type error) where Spark's
    implicit cast of 'zzz' failed the job."""
    got = sparql_query(triples, PFX + "SELECT ?d ?a WHERE { ?d ex:author ?a "
                       + (cond + " }" if cond.startswith("F")
                          else "} " + cond))
    assert len(_rows(got)) == n_rows


def test_aggregate_comparisons_cast_the_variable_side(spark):
    rows = [("d1", EX + "score", "2"), ("d2", EX + "score", "2"),
            ("d3", EX + "score", "5"), ("d4", EX + "score", "x")]
    t = spark.createDataFrame(rows, "subj string, pred string, "
                              "obj_value string")
    # an aggregate against a group key: the key side is try_cast, so
    # the non-numeric 'x' drops instead of failing the job
    q = PFX + """SELECT ?s WHERE { ?d ex:score ?s } GROUP BY ?s
                 HAVING (COUNT(?d) = ?s)"""
    assert _parse(q).having == ["(`_h_agg_0` = try_cast(`s` as double))"]
    assert _rows(sparql_query(t, q)) == [("2",)]
    # a SELECT alias of an aggregate is numeric too
    q = PFX + """SELECT ?s (COUNT(?d) AS ?n) WHERE { ?d ex:score ?s }
                 GROUP BY ?s HAVING (?n = ?s && ?n != 'zzz')"""
    assert _parse(q).having == [
        "((`n` = try_cast(`s` as double)) AND CAST(NULL AS BOOLEAN))"]
    assert _rows(sparql_query(t, q)) == []
    q = PFX + """SELECT ?s (COUNT(?d) AS ?n) WHERE { ?d ex:score ?s }
                 GROUP BY ?s HAVING (?n = ?s)"""
    assert _rows(sparql_query(t, q)) == [("2", 2)]
    # ... in a later SELECT expression too
    q = PFX + """SELECT ?s (COUNT(?d) AS ?n) ((?n != 'zzz') AS ?c)
                 WHERE { ?d ex:score ?s } GROUP BY ?s"""
    assert _parse(q).select[2][1] == "CAST(NULL AS BOOLEAN)"
    assert _rows(sparql_query(t, q)) == [("2", 2, None), ("5", 1, None),
                                         ("x", 1, None)]
    # but the WHERE group runs before grouping: there ?n is a variable
    q = PFX + """SELECT ?s (COUNT(?d) AS ?n) WHERE { ?d ex:score ?s
                 OPTIONAL { ?d ex:n ?n FILTER (?n != 'zzz') } } GROUP BY ?s"""
    assert _parse(q).where.optional[0].filters == ["(`n` != 'zzz')"]


@pytest.mark.parametrize("query, want", [
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (1 IN ('zzz')) }", []),
    ("SELECT ?d WHERE { ?d ex:p ?o } GROUP BY ?d "
     "HAVING (COUNT(?o) IN ('zzz'))", []),
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (?o + 1 = 'zzz') }", []),
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (?o + 1 = 2) }", [("d1",)]),
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (?o IN (1, 2)) }", [("d1",)]),
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (?o NOT IN (2, 'y')) }",
     [("d1",)]),
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (-?o < 0) }", [("d1",)]),
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (ABS(?o) > 0) }", [("d1",)]),
    ("SELECT ?d WHERE { ?d ex:p ?o FILTER (true = 1) }", []),
    ("SELECT ?d ?y WHERE { ?d ex:p ?o BIND (?o * 2 AS ?y) }",
     [("d1", 2), ("d2", None)]),
    ("SELECT ?d WHERE { ?d ex:p ?o } ORDER BY DESC(?o + 1)",
     [("d1",), ("d2",)]),
    ("SELECT ?d ((?o + 1) AS ?z) WHERE { ?d ex:p ?o }",
     [("d1", 2), ("d2", None)]),
], ids=["in_const", "having_in", "add_eq_str", "add_eq_num", "in_nums",
        "not_in_mixed", "neg", "abs", "bool_eq_num", "bind_mul",
        "order_add", "select_add"])
def test_typed_operators_over_lexical_values(spark, query, want):
    """Comparisons, IN and arithmetic over a frame that stores one
    numeric and one non-numeric lexical value: a kind mismatch drops
    the solution (or binds NULL), an unknown operand in a numeric
    position is try_cast, and no query fails the job."""
    t = spark.createDataFrame([("d1", EX + "p", "1"), ("d2", EX + "p", "x")],
                              "subj string, pred string, obj_value string")
    got = [tuple(r) for r in sparql_query(t, PFX + query).collect()]
    assert (got if "ORDER BY" in query else sorted(got, key=str)) == want


# ---------------------------------------------------------------------------
# dateTime accessors (§17.4.5)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def dt_triples(spark):
    rows = [
        ("e1", EX + "ts", "2024-01-05T10:03:52.824425"),
        ("e2", EX + "ts", "2024-02-05T23:59:07"),
        ("e3", EX + "ts", "2025-01-05T00:30:00"),
        ("e4", EX + "ts", "not-a-date"),
        ("e1", EX + "kind", "click"),
        ("e2", EX + "kind", "click"),
        ("e3", EX + "kind", "view"),
        ("e4", EX + "kind", "click"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string")


def test_datetime_accessors_bind(dt_triples):
    got = sparql_query(dt_triples, PFX + """
        SELECT ?e ?y ?mo ?d ?h ?mi ?s WHERE {
            ?e ex:ts ?t
            BIND(YEAR(?t) AS ?y)   BIND(MONTH(?t) AS ?mo)
            BIND(DAY(?t) AS ?d)    BIND(HOURS(?t) AS ?h)
            BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?s)
        } ORDER BY ?e""")
    assert _rows(got) == [
        ("e1", 2024, 1, 5, 10, 3, 52),
        ("e2", 2024, 2, 5, 23, 59, 7),
        ("e3", 2025, 1, 5, 0, 30, 0),
        # malformed lexical form: SPARQL type error → NULL, not a
        # task-failing ANSI cast error
        ("e4", None, None, None, None, None, None),
    ]


def test_datetime_accessor_in_filter_drops_malformed(dt_triples):
    got = sparql_query(dt_triples, PFX + """
        SELECT ?e WHERE {
            ?e ex:ts ?t ; ex:kind 'click'
            FILTER(YEAR(?t) = 2024 && HOURS(?t) >= 10)
        }""")
    assert _rows(got) == [("e1",), ("e2",)]


def test_datetime_accessor_in_group_by_expr(dt_triples):
    got = sparql_query(dt_triples, PFX + """
        SELECT ?mo (COUNT(?e) AS ?n) WHERE { ?e ex:ts ?t
            FILTER(BOUND(?t) && YEAR(?t) = 2024) }
        GROUP BY (MONTH(?t) AS ?mo) ORDER BY ?mo""")
    assert _rows(got) == [(1, 1), (2, 1)]


def test_nondeterministic_builtins_refuse_with_reason(dt_triples):
    for call in ("NOW()", "RAND()", "UUID()", "STRUUID()", "BNODE()"):
        with pytest.raises(SparqlUnsupportedError,
                           match="nondeterministic"):
            sparql_query(dt_triples, PFX +
                         f"SELECT ?e WHERE {{ ?e ex:ts ?t "
                         f"BIND({call} AS ?x) }}")


def test_tz_refuses_with_reason(dt_triples):
    with pytest.raises(SparqlUnsupportedError, match="timezone"):
        sparql_query(dt_triples, PFX +
                     "SELECT ?e WHERE { ?e ex:ts ?t "
                     "FILTER(TZ(?t) = 'Z') }")


def test_exists_body_subquery(spark):
    """Subquery inside FILTER EXISTS: keep docs citing a target that
    is itself cited >= 2 times — the subquery (grouped HAVING) joins
    the body's required pattern on ?c, then the whole body semi-joins
    the outer solutions."""
    t = spark.createDataFrame(
        [("d1", EX + "cites", "c1"),
         ("d2", EX + "cites", "c2"),
         ("d3", EX + "cites", "c1"),
         ("c1", EX + "kind", "paper"),
         ("c2", EX + "kind", "paper")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?d WHERE {
        ?d ex:cites ?c .
        FILTER EXISTS { ?c ex:kind 'paper' .
                        { SELECT ?c WHERE { ?x ex:cites ?c }
                          GROUP BY ?c HAVING (COUNT(?x) >= 2) } }
    }""")
    assert _rows(got) == [("d1",), ("d3",)]


def test_minus_body_scalar_subquery_argmax_removal(spark):
    """MINUS whose body constrains a required pattern with a scalar
    aggregate subquery — remove the doc(s) holding the maximum
    score."""
    t = spark.createDataFrame(
        [("d1", EX + "score", "3"),
         ("d2", EX + "score", "9"),
         ("d3", EX + "score", "5")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?d WHERE {
        ?d ex:score ?s
        MINUS { ?d ex:score ?s .
                { SELECT (MAX(?s2) AS ?mx) WHERE { ?x ex:score ?s2 } }
                FILTER (?s = ?mx) }
    }""")
    assert _rows(got) == [("d1",), ("d3",)]


def test_not_exists_subquery_only_shared_var_raises(spark):
    """A variable shared with the outer solutions but bound inside
    the negation body ONLY by a subquery refuses typed: substitution
    does not descend into subqueries, so the outer binding would not
    constrain it."""
    t = spark.createDataFrame(
        [("d1", EX + "score", "3"),
         ("d1", EX + "tag", "x")],
        "subj string, pred string, obj_value string")
    with pytest.raises(ValueError, match="only by a subquery"):
        sparql_query(t, PFX + """SELECT ?d ?s WHERE {
            ?d ex:score ?s
            FILTER NOT EXISTS { ?d ex:tag ?tg .
                { SELECT ?s WHERE { ?x ex:score ?s } } }
        }""").collect()


def test_embedded_exists_subquery_refuses(spark):
    from jsonld_spark.operators.sparql import SparqlUnsupportedError
    t = spark.createDataFrame(
        [("d1", EX + "score", "3")],
        "subj string, pred string, obj_value string")
    with pytest.raises(SparqlUnsupportedError,
                       match="expression-embedded"):
        sparql_query(t, PFX + """SELECT ?d WHERE {
            ?d ex:score ?s
            FILTER(?s = '3' || EXISTS { ?d ex:tag ?tg .
                { SELECT ?tg WHERE { ?x ex:tag ?tg } } })
        }""")


def test_nested_negation_subquery_depth_two(spark):
    """A subquery at depth 2 (inside the inner of two stacked
    NOT EXISTS bodies) compiles through the recursive negation-entry
    compiler: keep docs with no cited doc lacking a senior-ranked
    reviewer."""
    t = spark.createDataFrame(
        [("d1", EX + "cites", "c1"),
         ("d2", EX + "cites", "c2"),
         ("c1", EX + "reviewer", "r1"),
         ("r1", EX + "level", "senior"),
         ("c2", EX + "reviewer", "r2")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?d WHERE {
        ?d ex:cites ?c
        FILTER NOT EXISTS {
            ?d ex:cites ?c2
            FILTER NOT EXISTS {
                ?c2 ex:reviewer ?r .
                { SELECT ?r WHERE { ?r ex:level 'senior' } }
            }
        }
    }""")
    assert _rows(got) == [("d1",)]


def test_optional_body_negation_subquery_not_dropped(spark):
    """Review regression: a subquery inside a FILTER EXISTS that is
    nested in an OPTIONAL body must compile (one recursive entry
    compiler) — the two-compiler version silently DROPPED the
    subquery, binding d2's junior reviewer where SPARQL requires
    unbound. 'senior' is the only level appearing twice."""
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en"),
         ("d2", EX + "lang", "en"),
         ("d1", EX + "reviewer", "r1"),
         ("d2", EX + "reviewer", "r2"),
         ("r1", EX + "level", "senior"),
         ("r2", EX + "level", "junior"),
         ("r3", EX + "level", "senior")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?d ?r WHERE {
        ?d ex:lang ?l
        OPTIONAL { ?d ex:reviewer ?r
                   FILTER EXISTS { ?r ex:level ?lv .
                       { SELECT ?lv WHERE { ?y ex:level ?lv }
                         GROUP BY ?lv HAVING (COUNT(?y) >= 2) } } }
    }""")
    assert _rows(got) == [("d1", "r1"), ("d2", None)]


def test_unknown_group_entry_key_raises(spark):
    """A group-entry dict carrying an unrecognized key must raise —
    a silently-ignored key turns a front-end compile gap into wrong
    results (the exact failure mode of the dropped-subquery bug)."""
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en")],
        "subj string, pred string, obj_value string")
    with pytest.raises(ValueError, match="unknown group-entry key"):
        bgp_match(t, [("?d", EX + "lang", "?l")],
                  optional=[{"patterns": [("?d", EX + "r", "?r")],
                             "subqueries": ["ast"]}])
    with pytest.raises(ValueError, match="unknown group-entry key"):
        bgp_match(t, [("?d", EX + "lang", "?l")],
                  not_exists=[{"patterns": [("?d", EX + "r", "?r")],
                               "bogus_key": 1}])


def test_never_bound_variable_refuses_typed(spark):
    """A query referencing a variable never bound in scope (SELECT
    projection, FILTER) raises a typed SparqlUnsupportedError naming
    the unresolved column — never a raw AnalysisException (and never
    a silently-empty result). Documented deviation from SPARQL's
    per-solution type-error-to-false evaluation."""
    from jsonld_spark.operators.sparql import SparqlUnsupportedError
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en")],
        "subj string, pred string, obj_value string")
    with pytest.raises(SparqlUnsupportedError, match="never bound"):
        sparql_query(t, PFX + "SELECT ?nope WHERE { ?d ex:lang ?l }")
    with pytest.raises(SparqlUnsupportedError, match="never bound"):
        sparql_query(t, PFX +
                     "SELECT * WHERE { ?d ex:lang ?l FILTER(?y != ?l) }")
    with pytest.raises(SparqlUnsupportedError, match="never bound"):
        sparql_query(t, PFX + "SELECT * WHERE "
                     "{ { SELECT ?s WHERE { ?d ex:lang ?l } } }")


def test_compile_fuzz_typed_or_runs(spark):
    """Bounded execution-level fuzz: random member soup (patterns,
    OPTIONAL, [NOT] EXISTS, MINUS, subqueries, FILTER, BIND) and
    grouped queries with HAVING and ORDER BY, whose expressions mix
    kinds in comparisons, IN / NOT IN lists, arithmetic, unary minus
    and ABS over a graph with a non-numeric score, either execute or
    raise a typed error — no raw Py4J/AnalysisException or ANSI cast
    failure escapes sparql_query. (A 1500-case one-off run of this
    generator passed clean; this keeps a fast sentinel in the suite.)"""
    import random
    from jsonld_spark.operators.sparql import (SparqlSyntaxError,
                                               SparqlUnsupportedError)
    rng = random.Random(7)
    t = spark.createDataFrame(
        [("d1", EX + "lang", "en"), ("d2", EX + "lang", "de"),
         ("d1", EX + "author", "alice"), ("d2", EX + "author", "bob"),
         ("d1", EX + "cites", "d2"), ("alice", EX + "level", "senior"),
         ("d1", EX + "score", "3"), ("d2", EX + "score", "high")],
        "subj string, pred string, obj_value string")
    VARS = ["?d", "?a", "?l", "?x"]
    PREDS = ["ex:lang", "ex:author", "ex:cites", "ex:level", "ex:score"]
    CONSTS = ["'en'", "'alice'"]
    LITS = CONSTS + ["1", "-2", "2.5", "true", "<d1>", "'en'@en"]

    def arith(pool):
        r = rng.random()
        if r < 0.2:
            return "-" + rng.choice(pool)
        if r < 0.4:
            return "ABS(%s)" % rng.choice(pool)
        return "(%s %s %s)" % (rng.choice(pool), rng.choice("+-*/"),
                               rng.choice(pool))

    def expr(pool):
        def side():
            return rng.choice([arith(pool), rng.choice(pool)])
        if rng.random() < 0.4:
            items = ", ".join(rng.choice(pool)
                              for _ in range(rng.randrange(4)))
            return "%s %sIN (%s)" % (side(), rng.choice(["", "NOT "]),
                                     items)
        return "%s %s %s" % (side(), rng.choice(["=", "!=", "<", ">="]),
                             side())

    def pat():
        return (f"{rng.choice(VARS)} {rng.choice(PREDS)} "
                f"{rng.choice(VARS + CONSTS)} .")

    def member(depth):
        r = rng.random()
        if depth > 2 or r < 0.4:
            return pat()
        if r < 0.55:
            return "OPTIONAL { %s }" % body(depth + 1)
        if r < 0.65:
            return "FILTER %sEXISTS { %s }" % (
                rng.choice(["", "NOT "]), body(depth + 1))
        if r < 0.75:
            return "MINUS { %s }" % body(depth + 1)
        if r < 0.82:
            return "{ SELECT %s WHERE { %s } }" % (
                rng.choice(VARS), pat())
        if r < 0.88:
            return "FILTER (%s != %s)" % (
                rng.choice(VARS), rng.choice(VARS + CONSTS))
        if r < 0.95:
            return "FILTER (%s)" % expr(VARS + LITS)
        return "BIND (%s AS ?b)" % arith(VARS + LITS)

    def body(depth):
        return " ".join(member(depth)
                        for _ in range(rng.randrange(1, 4)))

    for i in range(60):
        q = PFX + "SELECT * WHERE { %s }" % body(0)
        if i % 3 == 2:
            v = rng.choice(VARS)
            q = PFX + ("SELECT %s (SUM(%s) AS ?n) WHERE { %s } GROUP BY %s "
                       "HAVING (%s) ORDER BY DESC(%s)") % (
                v, rng.choice(VARS), body(0), v,
                expr([v, "?n", "COUNT(*)", "SUM(?x)"] + LITS),
                arith([v, "?n"] + LITS))
        try:
            res = sparql_query(t, q)
            if not isinstance(res, bool):
                res.collect()
        except (SparqlSyntaxError, SparqlUnsupportedError, ValueError):
            pass


def test_ask_constant_path_respects_graph_scope(spark):
    """Review regression: ASK { GRAPH <g1> { <a> ex:p+ <b> } } where
    the a->b path exists only in g2 must be False — the all-constant
    shortcut previously ran the closure over ALL graphs."""
    t = spark.createDataFrame(
        [("a", EX + "p", "b", "g2")],
        "subj string, pred string, obj_value string, graph string")
    q_tmpl = (PFX + "ASK { GRAPH <%s> { <a> <" + EX + "p>+ <b> } }")
    assert sparql_query(t, q_tmpl % "g1") is False
    assert sparql_query(t, q_tmpl % "g2") is True


def test_minus_error_absorbing_filter_removes(spark):
    """Review regression: MINUS does not substitute (§8.3.3), so an
    outer-shared variable is unbound inside the group — but an
    error-ABSORBING filter (|| with a group-side disjunct) keeps its
    non-erroring branch and must still remove rows. The previous
    blanket empty-group no-op silently skipped the removal."""
    t = spark.createDataFrame(
        [("s1", EX + "p", "o1"), ("s2", EX + "p", "o2"),
         ("s1", EX + "q", "keep"), ("s2", EX + "q", "drop")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?s ?o WHERE {
        ?s ex:p ?o
        MINUS { ?s ex:q ?y FILTER (?o = 'zzz' || ?y = 'drop') }
    }""")
    # s2's group row passes via the ?y disjunct (error||true=true)
    assert _rows(got) == [("s1", "o1")]
    # and the famous spec no-op stays a no-op: a PLAIN comparison on
    # the unbound var errors for every row -> nothing removed
    got = sparql_query(t, PFX + """SELECT ?s ?o WHERE {
        ?s ex:p ?o
        MINUS { ?s ex:q ?y FILTER (?o = 'zzz') }
    }""")
    assert _rows(got) == [("s1", "o1"), ("s2", "o2")]


def test_review_tokenizer_fixes():
    """Trailing-dot integers split into NUMBER + terminator (SPARQL
    DECIMAL needs digits after the dot), and the empty-prefix
    declaration PREFIX : <iri> tokenizes."""
    q = _parse("PREFIX : <http://e/> SELECT ?s WHERE { ?s :p ?o }")
    assert q.where.patterns == [("?s", "http://e/p", "?o")]
    q = _parse("SELECT ?x WHERE { ?x <http://e/p> 10. "
               "?x <http://e/q> ?y }")
    assert q.where.patterns == [("?x", "http://e/p", "10"),
                                ("?x", "http://e/q", "?y")]


def test_review_dirty_lexicals_are_type_errors_not_crashes(spark):
    """ANSI mode: numeric FILTER comparisons, SUM/AVG, and XSD cast
    constructors over a malformed lexical value drop the solution /
    skip the value (try_cast) instead of failing the task."""
    t = spark.createDataFrame(
        [("a", EX + "n", "10"), ("b", EX + "n", "oops")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX +
                       "SELECT ?x WHERE { ?x ex:n ?v FILTER(?v > 5) }")
    assert _rows(got) == [("a",)]
    got = sparql_query(t, PFX +
                       "SELECT (SUM(?v) AS ?t) WHERE { ?x ex:n ?v }")
    assert got.collect()[0][0] == 10.0
    got = sparql_query(
        t, "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> " + PFX +
        "SELECT ?x WHERE { ?x ex:n ?v FILTER(xsd:integer(?v) > 5) }")
    assert _rows(got) == [("a",)]


def test_review_count_distinct_star_excludes_bnode_and_meta(spark):
    """COUNT(DISTINCT *) counts distinct SOLUTIONS — two rows
    differing only in a non-distinguished [] variable are one."""
    t = spark.createDataFrame(
        [("a", EX + "p", "x"), ("a", EX + "p", "y")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX +
                       "SELECT (COUNT(DISTINCT *) AS ?n) "
                       "WHERE { ?s ex:p [] }")
    assert got.collect()[0][0] == 1


def test_review_empty_in_list(spark):
    """?v IN () is legal SPARQL (false); NOT IN () is true — Spark's
    `IN ()` is a parse error, so the constant compiles directly."""
    t = spark.createDataFrame(
        [("a", EX + "n", "1")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX +
                       "SELECT ?x WHERE { ?x ex:n ?v FILTER(?v IN ()) }")
    assert _rows(got) == []
    got = sparql_query(t, PFX + "SELECT ?x WHERE "
                       "{ ?x ex:n ?v FILTER(?v NOT IN ()) }")
    assert _rows(got) == [("a",)]


def test_review_encode_for_uri_unreserved(spark):
    """fn:encode-for-uri keeps '~' raw and encodes '*' — the
    java form-encoding defaults diverge on both."""
    t = spark.createDataFrame(
        [("a", EX + "s", "~user a*b")],
        "subj string, pred string, obj_value string")
    got = sparql_query(t, PFX + """SELECT ?e WHERE {
        ?x ex:s ?v BIND(ENCODE_FOR_URI(?v) AS ?e) }""")
    assert _rows(got) == [("~user%20a%2Ab",)]


def test_review_lang_inside_negation_body(spark):
    """LANG()/term-metadata builtins inside [NOT] EXISTS / MINUS body
    FILTERs compile (the body routes through bgp_match with
    meta_vars) — previously died claiming a never-bound variable."""
    t = spark.createDataFrame(
        [("s1", EX + "p", "o1", "literal", None, None),
         ("s2", EX + "p", "o2", "literal", None, None),
         ("s1", EX + "q", "hello", "literal", "en", None),
         ("s2", EX + "q", "salut", "literal", "fr", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string, obj_datatype string")
    got = sparql_query(t, PFX + """SELECT ?s WHERE { ?s ex:p ?o
        FILTER NOT EXISTS { ?s ex:q ?v FILTER(LANG(?v) = 'en') } }""")
    assert _rows(got) == [("s2",)]
    assert sparql_query(t, PFX + """ASK { ?s ex:p ?o
        FILTER EXISTS { ?s ex:q ?v FILTER(LANG(?v) = 'fr') } }""") \
        is True


def test_double_with_empty_fraction_and_exponent_lexes(spark):
    """Advice fix: '1.e3' is a legal SPARQL DOUBLE ([0-9]+ '.' [0-9]*
    EXPONENT) and must lex as one number, not '1' '.' 'e3'."""
    from jsonld_spark.operators.sparql import sparql_query
    t = spark.createDataFrame(
        [("http://s", "http://p", "1000")],
        "subj string, pred string, obj_value string")
    out = sparql_query(t, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?s WHERE { ?s <http://p> ?v
            FILTER (xsd:double(?v) >= 1.e3) }
    """)
    assert [r["s"] for r in out.collect()] == ["http://s"]


@pytest.mark.parametrize("query, want", [
    # single pattern + FILTER
    ("SELECT ?s ?l WHERE { ?s ex:name ?x "
     "OPTIONAL { ?s ex:name ?l FILTER(LANG(?l) = 'fr') } }",
     [("_:b1", None), ("d1", "chat")]),
    # multi-pattern group, metadata read outside the group
    ("SELECT ?s ?v (DATATYPE(?v) AS ?dt) WHERE { ?s ex:name ?x "
     "OPTIONAL { ?s ex:n ?v . ?s ex:link ?t } }",
     [("_:b1", None, None), ("d1", "5", XSD + "integer")]),
    # multi-pattern group + FILTER
    ("SELECT ?s ?t WHERE { ?s ex:name ?x "
     "OPTIONAL { ?s ?p ?t . ?s ex:n ?v FILTER(isIRI(?t)) } }",
     [("_:b1", None), ("d1", "http://x/d2")]),
], ids=["filtered_pattern", "group", "filtered_group"])
def test_term_metadata_of_optional_group_vars(typed_triples, query, want):
    """LANG() / DATATYPE() / isIRI() over a variable an OPTIONAL group
    binds: the group serves the metadata columns like a required
    pattern does."""
    got = sparql_query(typed_triples, PFX + query)
    assert sorted(set(_rows(got)), key=repr) == sorted(want, key=repr)


_FORM_SHAPES = {
    "optional_unbound": "?s ex:author ?o OPTIONAL { ?s ex:reviewer ?r } "
                        "FILTER(!BOUND(?r))",
    "not_exists": "?s ex:author ?o FILTER NOT EXISTS { ?s ex:cites ?c }",
    "minus": "?s ex:lang ?o MINUS { ?s ex:author 'bob' }",
    "values_undef": "?s ex:lang ?o VALUES (?s ?o) { ('d1' UNDEF) "
                    "(UNDEF 'de') }",
    "inline_union": "?s ex:author ?a "
                    "{ ?s ex:cites ?o } UNION { ?s ex:reviewer ?o }",
    "whole_union": "{ ?s ex:cites ?o } UNION { ?s ex:reviewer ?o }",
    "group_by_subquery": "?s ex:author ?o { SELECT ?o (COUNT(?d) AS ?n) "
                         "WHERE { ?d ex:author ?o } GROUP BY ?o } "
                         "FILTER(?n > 1)",
    "filter_or_exists": "?s ex:lang ?o "
                        "FILTER(?o = 'de' || EXISTS { ?s ex:reviewer ?r })",
    "bind": "?s ex:author ?a BIND(UCASE(?a) AS ?o)",
    "empty": "?s ex:author ?o FILTER(?o = 'nobody')",
}


@pytest.mark.parametrize("where", list(_FORM_SHAPES.values()),
                         ids=list(_FORM_SHAPES))
def test_query_forms_agree_on_where_solutions(triples, where):
    """SELECT, ASK, CONSTRUCT and DESCRIBE read the same WHERE
    solutions: ASK is SELECT's non-emptiness, CONSTRUCT { ?s ex:x ?o }
    is its bound (s, o) pairs, DESCRIBE ?s covers its subjects."""
    rows = [r.asDict() for r in sparql_query(
        triples, PFX + f"SELECT * WHERE {{ {where} }}").collect()]
    assert sparql_query(triples, PFX + f"ASK {{ {where} }}") == bool(rows)
    built = sparql_query(triples, PFX + "CONSTRUCT { ?s ex:x ?o } "
                         f"WHERE {{ {where} }}")
    assert sorted((r.subj, r.obj_value) for r in built.collect()) == \
        sorted({(r["s"], r["o"]) for r in rows
                if r["s"] is not None and r["o"] is not None})
    described = sparql_query(triples, PFX + f"DESCRIBE ?s WHERE {{ {where} }}")
    subjects = {r.subj for r in described.where(
        F.col("role") == "subject").collect()}
    all_subjects = {r.subj for r in triples.select("subj").collect()}
    assert {r["s"] for r in rows} & all_subjects <= subjects


# ---------------------------------------------------------------------------
# front-end parity: SPARQL text and the Python API build the same Group,
# so they compile to the same optimized plan
# ---------------------------------------------------------------------------

def _normalised_plan(df) -> str:
    import importlib.util
    from pathlib import Path
    path = Path(__file__).resolve().parents[1] / "scripts" / "dump_plans.py"
    spec = importlib.util.spec_from_file_location("dump_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalise(df._jdf.queryExecution().optimizedPlan().toString())


_AUTHOR = ("?d", EX + "author", "?a")
_PARITY = {
    "optional_filter": (
        "{ ?d ex:author ?a OPTIONAL { ?d ex:cites ?c . ?c ex:lang ?l "
        "FILTER (?l = 'en') } }",
        lambda t: bgp_match(t, [_AUTHOR], optional=[{
            "patterns": [("?d", EX + "cites", "?c"),
                         ("?c", EX + "lang", "?l")],
            "filters": ["l = 'en'"]}])),
    "not_exists": (
        "{ ?d ex:author ?a FILTER NOT EXISTS { ?d ex:cites ?c } }",
        lambda t: bgp_match(t, [_AUTHOR],
                            not_exists=[[("?d", EX + "cites", "?c")]])),
    "minus": (
        "{ ?d ex:author ?a MINUS { ?d ex:lang 'de' } }",
        lambda t: bgp_match(t, [_AUTHOR],
                            minus=[[("?d", EX + "lang", "de")]])),
    "values_undef": (
        "{ ?d ex:author ?a VALUES (?a ?x) { ('alice' UNDEF) ('bob' 'b') } }",
        lambda t: bgp_match(t, [_AUTHOR], values=[
            {"a": "alice", "x": None}, {"a": "bob", "x": "b"}])),
    "bind": (
        "{ ?d ex:author ?a BIND (UCASE(?a) AS ?u) }",
        lambda t: bgp_match(t, [_AUTHOR], binds=[("u", "upper(a)")])),
    "union_branch_filters": (
        "{ { ?d ex:author ?a FILTER (?a = 'alice') } UNION "
        "{ ?d ex:lang ?l } }",
        lambda t: bgp_union(t, [[_AUTHOR], [("?d", EX + "lang", "?l")]],
                            branch_filters=[["a = 'alice'"], []])),
    "inline_union": (
        "{ ?d ex:lang ?l { ?d ex:author ?a } UNION { ?d ex:cites ?c } }",
        lambda t: bgp_match(t, [("?d", EX + "lang", "?l")], solution_joins=[{
            "df": bgp_union(t, [[_AUTHOR], [("?d", EX + "cites", "?c")]]),
            "nullable": {"a", "c"}}])),
    "exists_in_filter_expression": (
        "{ ?d ex:lang ?l FILTER (?l = 'en' || EXISTS { ?d ex:cites ?c }) }",
        lambda t: bgp_match(t, [("?d", EX + "lang", "?l")], filter_exists=[{
            "expr": "l = 'en' OR _fx0",
            "markers": [("_fx0", [("?d", EX + "cites", "?c")], False)]}])),
}


@pytest.mark.parametrize("shape", sorted(_PARITY))
def test_front_ends_build_the_same_plan(spark, shape):
    from jsonld_spark.session import local_frame
    t = local_frame(spark, [
        ("d1", EX + "author", "alice"), ("d2", EX + "author", "bob"),
        ("d1", EX + "lang", "en"), ("d2", EX + "lang", "de"),
        ("d1", EX + "cites", "d2")],
        "subj string, pred string, obj_value string")
    text, api = _PARITY[shape]
    got = sparql_query(t, PFX + "SELECT * WHERE " + text)
    want = api(t)
    assert _normalised_plan(got) == _normalised_plan(want)
    assert sorted(got.collect(), key=repr) == \
        sorted(want.collect(), key=repr)
