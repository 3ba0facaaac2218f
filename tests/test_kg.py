"""BGP matching and RDFS entailment over the triples DataFrame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.kg import (
    DOMAIN,
    RANGE,
    RDF_TYPE,
    SUB_CLASS,
    SUB_PROP,
    bgp_match,
    rdfs_closure,
)

EX = "http://example.org/"


@pytest.fixture()
def triples(spark):
    rows = [
        ("d1", EX + "author", "alice", "iri"),
        ("d1", EX + "lang", "en", "literal"),
        ("d2", EX + "author", "alice", "iri"),
        ("d2", EX + "lang", "de", "literal"),
        ("d3", EX + "author", "bob", "iri"),
        ("d3", EX + "lang", "en", "literal"),
        ("d1", EX + "cites", "d2", "iri"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string")


def test_bgp_star_join(triples):
    got = bgp_match(triples, [("?d", EX + "author", "?a"),
                              ("?d", EX + "lang", "en")])
    assert sorted((r.d, r.a) for r in got.collect()) == [
        ("d1", "alice"), ("d3", "bob")]


def test_bgp_chain_and_var_order(triples):
    got = bgp_match(triples, [("?x", EX + "cites", "?y"),
                              ("?y", EX + "author", "?a")])
    assert got.columns == ["x", "y", "a"]
    assert [tuple(r) for r in got.collect()] == [("d1", "d2", "alice")]


def test_bgp_repeated_var_in_one_pattern(spark):
    t = spark.createDataFrame(
        [("n1", EX + "self", "n1", "iri"), ("n1", EX + "self", "n2", "iri")],
        "subj string, pred string, obj_value string, obj_kind string")
    got = bgp_match(t, [("?x", EX + "self", "?x")])
    assert [r.x for r in got.collect()] == ["n1"]


def test_bgp_optional_binds_null_where_unmatched(triples):
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")])
    assert got.columns == ["d", "a", "c"]
    assert sorted((r.d, r.a, r.c) for r in got.collect()) == [
        ("d1", "alice", "d2"), ("d2", "alice", None), ("d3", "bob", None)]


def test_bgp_optional_duplicate_triples_do_not_multiply(spark, triples):
    dup = triples.unionByName(triples)   # every triple twice
    got = bgp_match(dup, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")])
    assert got.count() == 3


def test_bgp_optional_all_constant_is_noop(triples):
    # OPTIONAL { <s> <p> <o> } binds nothing whether or not it
    # matches — a legal SPARQL no-op, never a cartesian error
    base = bgp_match(triples, [("?d", EX + "author", "?a")])
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("d1", EX + "cites", "d2")])
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, base.collect()))
    got2 = bgp_match(triples, [("?d", EX + "author", "?a")],
                     optional=[("d1", EX + "cites", "nope")])
    assert sorted(map(tuple, got2.collect())) == \
        sorted(map(tuple, base.collect()))
    # the sibling entry forms of the same construct skip too: an
    # all-constant UNION body and an all-constant group with negation
    got3 = bgp_match(
        triples, [("?d", EX + "author", "?a")],
        optional=[{"union": [[("d1", EX + "cites", "d2")],
                             [("d1", EX + "cites", "nope")]]}])
    assert sorted(map(tuple, got3.collect())) == \
        sorted(map(tuple, base.collect()))
    got4 = bgp_match(
        triples, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("d1", EX + "cites", "d2")],
                   "minus": [[("d1", EX + "lang", "en")]]}])
    assert sorted(map(tuple, got4.collect())) == \
        sorted(map(tuple, base.collect()))


def test_bgp_optional_rejects_disjoint(triples):
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(triples, [("?d", EX + "author", "?a")],
                  optional=[("?x", EX + "lang", "en")])


def test_bgp_nested_optional_group(spark):
    # OPTIONAL { req OPTIONAL { inner } }: the group matches on its
    # required part alone; the inner OPTIONAL can only ADD bindings.
    # When the group's required part fails, inner-optional vars stay
    # unbound even if the inner pattern alone would match.
    rows = [
        ("d1", EX + "author", "alice", "iri"),
        ("d2", EX + "author", "alice", "iri"),
        ("d3", EX + "author", "bob", "iri"),
        ("d1", EX + "cites", "d2", "iri"),
        ("d2", EX + "cites", "d3", "iri"),
        ("d1", EX + "reviewer", "rev1", "literal"),
        ("d3", EX + "reviewer", "rev3", "literal"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string")
    got = bgp_match(
        t, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?o", EX + "cites", "?d")],
                   "optional": [("?o", EX + "reviewer", "?r")]}])
    assert got.columns == ["d", "a", "o", "r"]
    # d1: nothing cites it -> group fails -> o AND r null (d1 has a
    # reviewer, but the nested group must not leak it: a flattened
    # sequential OPTIONAL would differ here);
    # d2: cited by d1 which has a reviewer; d3: cited by d2, none
    assert sorted(tuple(r) for r in got.collect()) == [
        ("d1", "alice", None, None),
        ("d2", "alice", "d1", "rev1"),
        ("d3", "bob", "d2", None)]


def test_bgp_nested_optional_two_deep_and_filter(spark):
    rows = [
        ("d1", EX + "author", "alice", "iri"),
        ("d2", EX + "author", "bob", "iri"),
        ("d1", EX + "cites", "d2", "iri"),
        ("d2", EX + "lang", "de", "literal"),
        ("d2", EX + "reviewer", "rev2", "literal"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string")
    got = bgp_match(
        t, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?d", EX + "cites", "?o")],
                   "optional": [{"patterns": [("?o", EX + "lang", "?l")],
                                 "optional": [("?o", EX + "reviewer",
                                               "?r")]}]}])
    assert sorted(tuple(r) for r in got.collect()) == [
        ("d1", "alice", "d2", "de", "rev2"),
        ("d2", "bob", None, None, None)]
    # a group filter over an inner-optional variable applies to the
    # group's solutions (null comparison drops -> group row unmatched)
    got2 = bgp_match(
        t, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?d", EX + "cites", "?o")],
                   "optional": [("?o", EX + "reviewer", "?r")],
                   "filters": ["r = 'nope'"]}])
    assert sorted(tuple(r) for r in got2.collect()) == [
        ("d1", "alice", None, None), ("d2", "bob", None, None)]


def test_bgp_optional_group_binds(spark):
    # 'binds' in an optional dict entry: Extend over the group's
    # solutions before group filters; combinable with nested optionals
    rows = [
        ("d1", EX + "author", "alice", "iri"),
        ("d2", EX + "author", "bob", "iri"),
        ("d1", EX + "cites", "d2", "iri"),
        ("d2", EX + "reviewer", "rev2", "literal"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string")
    got = bgp_match(
        t, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?d", EX + "cites", "?o")],
                   "optional": [("?o", EX + "reviewer", "?r")],
                   "binds": [("has_rev", "r IS NOT NULL")]}])
    assert sorted(tuple(r) for r in got.collect()) == [
        ("d1", "alice", "d2", "rev2", True),
        ("d2", "bob", None, None, None)]
    # later binds may reference earlier ones; filters see both
    got2 = bgp_match(
        t, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?d", EX + "cites", "?o")],
                   "binds": [("u", "upper(o)"), ("n", "length(u)")],
                   "filters": ["n = 2"]}])
    assert sorted(tuple(r) for r in got2.collect()) == [
        ("d1", "alice", "d2", "D2", 2), ("d2", "bob", None, None, None)]


def test_bgp_optional_group_negation_and_values(spark):
    # 'not_exists' / 'minus' / 'values' keys on an optional dict
    # entry compile through a recursive bgp_match on the optional side
    rows = [
        ("d1", EX + "author", "alice", "iri"),
        ("d2", EX + "author", "bob", "iri"),
        ("d3", EX + "author", "carol", "iri"),
        ("d1", EX + "cites", "d2", "iri"),
        ("d2", EX + "cites", "d3", "iri"),
        ("d2", EX + "flagged", "true", "literal"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string")
    got = bgp_match(
        t, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?d", EX + "cites", "?o")],
                   "not_exists": [[("?o", EX + "flagged", "?f")]]}])
    assert sorted((r.d, r.o) for r in got.collect()) == [
        ("d1", None), ("d2", "d3"), ("d3", None)]
    got2 = bgp_match(
        t, [("?d", EX + "author", "?a")],
        optional=[{"patterns": [("?d", EX + "cites", "?o")],
                   "values": [{"o": "d3"}]}])
    assert sorted((r.d, r.o) for r in got2.collect()) == [
        ("d1", None), ("d2", "d3"), ("d3", None)]
    # a negation member referencing an outer-only variable raises
    with pytest.raises(ValueError, match="outer variables"):
        bgp_match(
            t, [("?d", EX + "author", "?a"),
                ("?d", EX + "cites", "?c")],
            optional=[{"patterns": [("?d", EX + "cites", "?o")],
                       "not_exists": [[("?o", EX + "cites", "?c")]]}])


def test_bgp_nested_optional_inner_bound_join_key_raises(spark):
    # the outer shared variable ?r is bound only by the group's INNER
    # optional -> nullable on the optional side -> typed refusal
    rows = [("d1", EX + "author", "alice", "iri"),
            ("d1", EX + "reviewer", "rev1", "literal"),
            ("d1", EX + "lang", "en", "literal")]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string")
    with pytest.raises(ValueError, match="inner OPTIONAL"):
        bgp_match(
            t, [("?d", EX + "author", "?a"),
                ("?d", EX + "reviewer", "?r")],
            optional=[{"patterns": [("?d", EX + "lang", "?l")],
                       "optional": [("?d", EX + "reviewer", "?r")]}])


def test_bgp_filter_and_unbound_comparison_drops(triples):
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    filters=["a = 'alice'"])
    assert sorted((r.d, r.c) for r in got.collect()) == [
        ("d1", "d2"), ("d2", None)]
    # comparison against an unbound optional var drops the row (SPARQL
    # error semantics); explicit IS NULL keeps it
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    filters=["c = 'd2'"])
    assert [(r.d, r.c) for r in got.collect()] == [("d1", "d2")]
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    filters=["c IS NULL"])
    assert sorted(r.d for r in got.collect()) == ["d2", "d3"]


def test_bgp_union_aligns_vars_and_dedups(triples):
    from jsonld_spark.operators.kg import bgp_union
    got = bgp_union(triples, [
        [("?d", EX + "lang", "en")],
        [("?d", EX + "author", "alice"), ("?d", EX + "lang", "?l")],
    ])
    assert got.columns == ["d", "l"]
    rows = sorted(((r.d, r.l) for r in got.collect()),
                  key=lambda t: (t[0], t[1] or ""))
    assert rows == [("d1", None), ("d1", "en"),
                    ("d2", "de"), ("d3", None)]
    with pytest.raises(ValueError, match="empty"):
        bgp_union(triples, [])


def test_bgp_rejects_cartesian(triples):
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(triples, [("?a", EX + "lang", "en"),
                            ("?b", EX + "author", "alice")])


def test_bgp_rejects_empty_and_malformed(triples):
    with pytest.raises(ValueError, match="empty"):
        bgp_match(triples, [])
    with pytest.raises(ValueError, match="must be"):
        bgp_match(triples, [("?a", "p")])  # type: ignore[list-item]


def _schema(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string")


def test_rdfs_domain_range_and_subclass(spark, triples):
    schema = _schema(spark, [
        (EX + "author", DOMAIN, EX + "Doc"),
        (EX + "author", RANGE, EX + "Person"),
        (EX + "Doc", SUB_CLASS, EX + "Work"),
        (EX + "Work", SUB_CLASS, EX + "Thing"),
    ])
    got = {(r.subj, r.pred, r.obj)
           for r in rdfs_closure(triples, schema).collect()}
    # rdfs2 + transitive rdfs9
    for cls in ("Doc", "Work", "Thing"):
        assert ("d1", RDF_TYPE, EX + cls) in got
    # rdfs3 only for IRI objects
    assert ("alice", RDF_TYPE, EX + "Person") in got
    assert not any(s == "en" for s, _, _ in got)


def test_rdfs_subproperty_carries_domain(spark, triples):
    schema = _schema(spark, [
        (EX + "cites", SUB_PROP, EX + "related"),
        (EX + "related", DOMAIN, EX + "Citing"),
    ])
    got = {(r.subj, r.pred, r.obj)
           for r in rdfs_closure(triples, schema).collect()}
    assert ("d1", EX + "related", "d2") in got          # rdfs7
    assert ("d1", RDF_TYPE, EX + "Citing") in got       # composed domain


def test_rdfs_cycle_terminates(spark, triples):
    schema = _schema(spark, [
        (EX + "A", SUB_CLASS, EX + "B"),
        (EX + "B", SUB_CLASS, EX + "A"),
        (EX + "author", DOMAIN, EX + "A"),
    ])
    got = {(r.subj, r.pred, r.obj)
           for r in rdfs_closure(triples, schema).collect()}
    assert ("d1", RDF_TYPE, EX + "A") in got
    assert ("d1", RDF_TYPE, EX + "B") in got


@pytest.mark.parametrize("closure", ["rdfs_closure", "owl_closure"])
def test_schema_size_guard(spark, triples, closure):
    from jsonld_spark.operators import kg
    schema = _schema(spark, [(f"c{i}", SUB_CLASS, f"c{i+1}")
                             for i in range(10)])
    with pytest.raises(ValueError, match=f"ontology; {closure}"):
        getattr(kg, closure)(triples, schema, max_schema_rows=5)
    # at the bound the schema is read, not refused
    getattr(kg, closure)(triples, schema, max_schema_rows=10)


def test_mixture_weights_alpha(spark):
    from jsonld_spark.operators.sampling import mixture_weights
    docs = spark.createDataFrame(
        [(1, "en", "a b c d"), (2, "en", "e f g h"), (3, "de", "x y")],
        "doc_id long, lang string, text string")
    got = {r.grp: r for r in
           mixture_weights(docs, alpha=0.5).collect()}
    assert got["en"].n_tokens == 8 and got["de"].n_tokens == 2
    assert abs(got["en"].raw_share - 0.8) < 1e-9
    # alpha=0.5: weights ∝ sqrt(8):sqrt(2) = 2:1
    assert abs(got["en"].weight - 2 / 3) < 1e-9
    assert abs(got["de"].weight - 1 / 3) < 1e-9
    # low-resource group upsampled, high-resource downsampled
    assert got["de"].upsample > 1 > got["en"].upsample
    # alpha=1 reproduces raw shares
    got1 = {r.grp: r for r in mixture_weights(docs, alpha=1.0).collect()}
    assert abs(got1["en"].weight - got1["en"].raw_share) < 1e-9


def test_property_path_chain_and_branching(spark):
    from jsonld_spark.operators.kg import property_path
    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
            ("x", "p", "b"),                    # second branch into b
            ("a", "other", "zzz")]              # different predicate
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string")
    got = {(r.src, r.dst) for r in property_path(t, "p").collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"),
                   ("b", "c"), ("b", "d"), ("c", "d"),
                   ("x", "b"), ("x", "c"), ("x", "d")}


def test_property_path_cycle_terminates(spark):
    from jsonld_spark.operators.kg import property_path
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a")],
        "subj string, pred string, obj_value string")
    got = {(r.src, r.dst) for r in property_path(t, "p").collect()}
    # full 3-cycle: everyone reaches everyone else — INCLUDING itself
    # via the cycle (SPARQL OneOrMorePath keeps reflexive pairs that
    # a real path produces)
    assert got == {(x, y) for x in "abc" for y in "abc"}


def test_property_path_deep_chain_log_rounds(spark):
    from jsonld_spark.operators.kg import property_path
    n = 200
    t = spark.createDataFrame(
        [(f"n{i}", "p", f"n{i+1}") for i in range(n)],
        "subj string, pred string, obj_value string")
    # depth 200 needs only ceil(log2(200)) = 8 doubling rounds
    sc = spark.sparkContext
    sc.setJobGroup("path_chain", "property_path, 200-chain")
    try:
        out = property_path(t, "p", max_rounds=9)
        assert out.count() == n * (n + 1) // 2
        jobs = sc.statusTracker().getJobIdsForGroup("path_chain")
    finally:
        sc.setJobGroup(None, None)
    # each round is one observed lineage cut, with no second count()
    # per round (that loop ran 69 jobs here)
    assert len(jobs) <= 49
    # and an undersized round budget raises instead of truncating
    import pytest
    with pytest.raises(RuntimeError, match="fixpoint"):
        property_path(t, "p", max_rounds=3)


XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.fixture()
def typed_triples(spark):
    T = RDF_TYPE
    rows = [
        # docs: d1 conforms; d2 missing name; d3 two names + bad page
        ("d1", T, EX + "Doc", "iri", None),
        ("d2", T, EX + "Doc", "iri", None),
        ("d3", T, EX + "Doc", "iri", None),
        ("d1", EX + "name", "Alpha", "literal", XSD + "string"),
        ("d3", EX + "name", "Beta", "literal", XSD + "string"),
        ("d3", EX + "name", "Gamma", "literal", None),  # absent dt = string
        ("d1", EX + "page", "http://x/p1", "iri", None),
        ("d3", EX + "page", "not a url", "literal", None),
        ("d1", EX + "author", "a1", "iri", None),
        ("d3", EX + "author", "a9", "iri", None),   # a9 untyped
        ("a1", T, EX + "Person", "iri", None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, "
              "obj_kind string, obj_datatype string")


def test_shacl_cardinality_and_datatype(typed_triples):
    from jsonld_spark.operators.kg import Shape, shacl_validate
    got = shacl_validate(typed_triples, [Shape(
        "name", path=EX + "name", target_class=EX + "Doc",
        min_count=1, max_count=1, datatype=XSD + "string")])
    assert sorted((r.focus, r.constraint_kind, r.value)
                  for r in got.collect()) == [
        ("d2", "minCount", "0"), ("d3", "maxCount", "2")]


def test_shacl_nodekind_pattern_in_and_class(typed_triples):
    from jsonld_spark.operators.kg import Shape, shacl_validate
    got = shacl_validate(typed_triples, [
        Shape("page", path=EX + "page", target_class=EX + "Doc",
              node_kind="iri", pattern="^https?://"),
        Shape("auth", path=EX + "author", target_class=EX + "Doc",
              value_class=EX + "Person"),
        Shape("name-set", path=EX + "name", targets=EX + "name",
              in_set=("Alpha", "Beta")),
    ])
    rows = sorted((r.shape_id, r.focus, r.constraint_kind, r.value)
                  for r in got.collect())
    assert rows == [
        ("auth", "d3", "class", "a9"),
        ("name-set", "d3", "in", "Gamma"),
        ("page", "d3", "nodeKind", "not a url"),
        ("page", "d3", "pattern", "not a url"),
    ]


def test_shacl_duplicate_triples_count_once(spark, typed_triples):
    from jsonld_spark.operators.kg import Shape, shacl_validate
    dup = typed_triples.unionByName(typed_triples)
    got = shacl_validate(dup, [Shape(
        "name", path=EX + "name", target_class=EX + "Doc",
        min_count=1, max_count=1)])
    # d1's duplicated single name is still ONE value node (no maxCount
    # violation); d3's two distinct names still violate once
    assert sorted((r.focus, r.constraint_kind) for r in got.collect()) == [
        ("d2", "minCount"), ("d3", "maxCount")]


def test_shacl_rejects_empty_and_unconstrained(typed_triples):
    from jsonld_spark.operators.kg import Shape, shacl_validate
    with pytest.raises(ValueError, match="empty"):
        shacl_validate(typed_triples, [])
    with pytest.raises(ValueError, match="no constraints"):
        Shape("s", path=EX + "name")
    with pytest.raises(ValueError, match="node_kind"):
        Shape("s", path=EX + "name", node_kind="uri")


def test_bgp_not_exists(triples):
    # docs with an author that do NOT cite anything
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    not_exists=[[("?d", EX + "cites", "?x")]])
    assert sorted(r.d for r in got.collect()) == ["d2", "d3"]
    # multi-pattern group: drop docs whose citation target is by alice
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    not_exists=[[("?d", EX + "cites", "?y"),
                                 ("?y", EX + "author", "alice")]])
    assert sorted(r.d for r in got.collect()) == ["d2", "d3"]


def test_bgp_not_exists_unbound_shared_var_substitution(triples):
    # SPARQL substitution semantics: d2/d3 leave ?c unbound, so ?c is
    # FREE inside the group — the group matches (some doc has a lang
    # triple) and d2/d3 are dropped; d1 binds ?c=d2, which also has a
    # lang triple, so everything is dropped
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    not_exists=[[("?c", EX + "lang", "?l")]])
    assert got.collect() == []
    # a group that matches nothing at all keeps every solution,
    # bound-?c and unbound-?c alike
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    not_exists=[[("?c", EX + "missing", "?l")]])
    assert sorted(r.d for r in got.collect()) == ["d1", "d2", "d3"]
    # bound ?c constrains the group: only d1 cites something, and its
    # target d2 has a lang triple, so only d1 is dropped once the
    # group's subject position is restricted to cited docs
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    not_exists=[[("?c", EX + "lang", "de")]])
    # d1 drops (cites d2, lang de); d2/d3 unbound-?c → group "?c lang
    # de" matches (d2 has lang de) → dropped too
    assert got.collect() == []


def test_bgp_minus_all_unbound_shared_survives(triples):
    # MINUS §8.3.3: a solution whose shared vars are ALL unbound has a
    # disjoint bound domain and survives — unlike NOT EXISTS
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    minus=[[("?c", EX + "lang", "?l")]])
    # d1 binds ?c=d2 (lang de exists) → removed; d2/d3 unbound ?c →
    # disjoint domain → survive
    assert sorted(r.d for r in got.collect()) == ["d2", "d3"]


def test_bgp_exists_unbound_shared_var_substitution(triples):
    # EXISTS mirror: unbound ?c is free in the group, so d2/d3 survive
    # iff the group matches at all
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    exists=[[("?c", EX + "lang", "?l")]])
    assert sorted(r.d for r in got.collect()) == ["d1", "d2", "d3"]
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    exists=[[("?c", EX + "missing", "?l")]])
    assert got.collect() == []


def test_bgp_values_over_nullable_var(triples):
    # VALUES over a variable an OPTIONAL may leave unbound: a bound
    # ?c must equal the VALUES cell (or the cell is UNDEF); an
    # unbound ?c is compatible with every cell and TAKES its value
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    optional=[("?d", EX + "cites", "?c")],
                    values=[{"c": "d2", "tag": "T1"},
                            {"c": "d9", "tag": "T2"}])
    rows = sorted((r.d, r.c, r.tag) for r in got.collect())
    # d1 binds c=d2: matches only the d2 row. d2/d3 unbound: match
    # both rows, binding c from each
    assert rows == [("d1", "d2", "T1"),
                    ("d2", "d2", "T1"), ("d2", "d9", "T2"),
                    ("d3", "d2", "T1"), ("d3", "d9", "T2")]


def test_bgp_sequential_optional_unbound_compatibility(spark):
    # the round-4 documented deviation, now implemented: opt2's only
    # shared var ?c was introduced by opt1 and is unbound for s2 —
    # SPARQL compatibility lets s2 match ANY opt2 row and bind ?c
    t = spark.createDataFrame(
        [("s1", EX + "p", "c1"), ("s2", EX + "p", "c2"),
         ("s1", EX + "q", "c1"),              # opt1 matches only s1
         ("c1", EX + "r", "x1"), ("c9", EX + "r", "x9")],
        "subj string, pred string, obj_value string")
    got = bgp_match(t, [("?s", EX + "p", "?o")],
                    optional=[("?s", EX + "q", "?c"),
                              ("?c", EX + "r", "?x")])
    rows = sorted((r.s, r.c, r.x) for r in got.collect())
    # s1: ?c=c1 bound by opt1, opt2 matches (c1,r,x1)
    # s2: ?c unbound after opt1 → compatible with both opt2 rows,
    #     binding ?c to each (bind-once)
    assert rows == [("s1", "c1", "x1"), ("s2", "c1", "x1"),
                    ("s2", "c9", "x9")]


def test_bgp_not_exists_rejects_disconnected(triples):
    with pytest.raises(ValueError, match="per-solution"):
        bgp_match(triples, [("?d", EX + "author", "?a")],
                  not_exists=[[("?x", EX + "lang", "en")]])
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(triples, [("?d", EX + "author", "?a")],
                  not_exists=[[("?d", EX + "lang", "?l"),
                               ("?z", EX + "cites", "?w")]])
    with pytest.raises(ValueError, match="empty"):
        bgp_match(triples, [("?d", EX + "author", "?a")],
                  not_exists=[[]])


@pytest.fixture()
def owl_triples(spark):
    rows = [
        ("a", EX + "parentOf", "b", "iri"),
        ("b", EX + "parentOf", "c", "iri"),
        ("x", EX + "marriedTo", "y", "iri"),
        ("p", EX + "partOf", "q", "iri"),
        ("q", EX + "partOf", "r", "iri"),
        ("r", EX + "partOf", "s2", "iri"),
        ("a", EX + "label", "Ann", "literal"),   # literal: never inverted
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_kind string")


def test_owl_inverse_symmetric_transitive(spark, owl_triples):
    from jsonld_spark.operators.kg import (
        INVERSE_OF, SYMMETRIC_PROPERTY, TRANSITIVE_PROPERTY, owl_closure)
    schema = _schema(spark, [
        (EX + "parentOf", INVERSE_OF, EX + "childOf"),
        (EX + "marriedTo", RDF_TYPE, SYMMETRIC_PROPERTY),
        (EX + "partOf", RDF_TYPE, TRANSITIVE_PROPERTY),
        (EX + "label", INVERSE_OF, EX + "labelOf"),
    ])
    got = {(r.subj, r.pred, r.obj)
           for r in owl_closure(owl_triples, schema).collect()}
    assert ("b", EX + "childOf", "a") in got        # inverseOf forward
    assert ("c", EX + "childOf", "b") in got
    assert ("y", EX + "marriedTo", "x") in got      # symmetric
    assert ("p", EX + "partOf", "r") in got         # transitive 2-hop
    assert ("p", EX + "partOf", "s2") in got        # transitive 3-hop
    assert not any(s == "Ann" for s, _, _ in got)   # literal not inverted


def test_owl_inverse_applies_both_directions(spark):
    from jsonld_spark.operators.kg import INVERSE_OF, owl_closure
    t = spark.createDataFrame(
        [("b", EX + "childOf", "a", "iri")],
        "subj string, pred string, obj_value string, obj_kind string")
    schema = _schema(spark, [(EX + "parentOf", INVERSE_OF, EX + "childOf")])
    got = {(r.subj, r.pred, r.obj) for r in owl_closure(t, schema).collect()}
    assert got == {("a", EX + "parentOf", "b")}


def test_owl_transitive_pred_budget(spark, owl_triples):
    from jsonld_spark.operators.kg import TRANSITIVE_PROPERTY, owl_closure
    schema = _schema(spark, [(f"{EX}t{i}", RDF_TYPE, TRANSITIVE_PROPERTY)
                             for i in range(4)])
    with pytest.raises(ValueError, match="transitive"):
        owl_closure(owl_triples, schema, max_transitive_preds=3)


def test_owl_no_applicable_schema_is_empty(spark, owl_triples):
    from jsonld_spark.operators.kg import owl_closure
    schema = _schema(spark, [(EX + "p", SUB_CLASS, EX + "q")])
    assert owl_closure(owl_triples, schema).count() == 0


def test_construct_template_and_unbound_skip(triples):
    from jsonld_spark.operators.kg import construct
    got = construct(
        triples,
        [("?d", EX + "author", "?a")],
        [("?a", EX + "wrote", "?d"), ("?d", EX + "citedBy", "?c")],
        optional=[("?c", EX + "cites", "?d")])
    rows = {(r.subj, r.pred, r.obj_value) for r in got.collect()}
    # every author yields a wrote edge; only d2 (cited by d1) yields a
    # citedBy edge — d1/d3 leave ?c unbound and skip that template row
    assert rows == {
        ("alice", EX + "wrote", "d1"), ("alice", EX + "wrote", "d2"),
        ("bob", EX + "wrote", "d3"), ("d2", EX + "citedBy", "d1")}


def test_construct_rejects_unbound_template_var_and_empty(triples):
    from jsonld_spark.operators.kg import construct
    with pytest.raises(ValueError, match="not bound"):
        construct(triples, [("?d", EX + "author", "?a")],
                  [("?d", EX + "x", "?nosuch")])
    with pytest.raises(ValueError, match="empty template"):
        construct(triples, [("?d", EX + "author", "?a")], [])


def test_bgp_quad_pattern_graph_clause(spark):
    from jsonld_spark.operators.kg import bgp_match
    rows = [
        ("d1", EX + "author", "alice", "iri", EX + "g/feedA"),
        ("d2", EX + "author", "bob", "iri", EX + "g/feedB"),
        ("d3", EX + "author", "carol", "iri", EX + "g/feedB"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, "
              "obj_kind string, graph string")
    # constant graph restricts; variable graph binds
    got = bgp_match(t, [("?d", EX + "author", "?a", EX + "g/feedB")])
    assert sorted(r.d for r in got.collect()) == ["d2", "d3"]
    got = bgp_match(t, [("?d", EX + "author", "?a", "?g")])
    assert got.columns == ["d", "a", "g"]
    assert sorted((r.d, r.g) for r in got.collect()) == [
        ("d1", EX + "g/feedA"), ("d2", EX + "g/feedB"),
        ("d3", EX + "g/feedB")]
    # 3-tuple patterns still work on a frame WITHOUT a graph column
    got = bgp_match(t.drop("graph"), [("?d", EX + "author", "?a")])
    assert got.count() == 3
    with pytest.raises(ValueError, match="must be"):
        bgp_match(t, [("?d", EX + "author", "?a", "?g", "?x")])


def test_ask_and_describe(triples):
    from jsonld_spark.operators.kg import ask, describe
    assert ask(triples, [("?d", EX + "author", "alice")])
    assert not ask(triples, [("?d", EX + "author", "nobody")])
    assert not ask(triples, [("?d", EX + "author", "alice")],
                   not_exists=[[("?d", EX + "lang", "?l")]])
    got = describe(triples, "d2")
    rows = {(r.subj, r.pred, r.obj_value, r.role) for r in got.collect()}
    assert rows == {
        ("d2", EX + "author", "alice", "subject"),
        ("d2", EX + "lang", "de", "subject"),
        ("d1", EX + "cites", "d2", "object")}


# ---------------------------------------------------------------------------
# round 5: path algebra, VALUES/BIND, existence gates, sameAs fusion
# ---------------------------------------------------------------------------

@pytest.fixture()
def path_triples(spark):
    return spark.createDataFrame(
        [("a", "p", "b", "iri"), ("b", "p", "c", "iri"),
         ("c", "q", "d", "iri"), ("a", "r", "x", "iri")],
        "subj string, pred string, obj_value string, obj_kind string")


def test_kg_path_sequence_and_alt(path_triples):
    from jsonld_spark.operators.kg import kg_path
    got = {(r.src, r.dst) for r in kg_path(path_triples, "<p>/<q>").collect()}
    assert got == {("b", "d")}
    got = {(r.src, r.dst) for r in kg_path(path_triples, "<p>|<q>").collect()}
    assert got == {("a", "b"), ("b", "c"), ("c", "d")}


def test_kg_path_star_opt_identity_over_graph_terms(path_triples):
    from jsonld_spark.operators.kg import kg_path
    nodes = {"a", "b", "c", "d", "x"}
    got = {(r.src, r.dst) for r in kg_path(path_triples, "<p>*").collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "c")} | {(n, n) for n in nodes}
    got = {(r.src, r.dst) for r in kg_path(path_triples, "<q>?").collect()}
    assert got == {("c", "d")} | {(n, n) for n in nodes}


def test_kg_path_inverse_and_closure_compose(path_triples):
    from jsonld_spark.operators.kg import kg_path
    got = {(r.src, r.dst) for r in kg_path(path_triples, "(^<p>)+").collect()}
    assert got == {("b", "a"), ("c", "b"), ("c", "a")}
    # parens + seq over alternation
    got = {(r.src, r.dst)
           for r in kg_path(path_triples, "<p>/(<p>|<q>)").collect()}
    assert got == {("a", "c"), ("b", "d")}


def test_kg_path_syntax_errors(path_triples):
    from jsonld_spark.operators.kg import kg_path
    for bad in ["p", "<p", "<>", "<p>/", "(<p>", "<p>)", "<p> <q>"]:
        with pytest.raises(ValueError, match="path syntax|empty IRI"):
            kg_path(path_triples, bad)


def test_kg_path_reflexive_on_cycle(spark):
    from jsonld_spark.operators.kg import kg_path
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a"), ("s", "p", "s")],
        "subj string, pred string, obj_value string")
    got = {(r.src, r.dst) for r in kg_path(t, "<p>+").collect()}
    # SPARQL OneOrMorePath: cycle members reach themselves; self-loop too
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b"),
                   ("s", "s")}


def test_bgp_path_pattern_predicate(path_triples):
    got = bgp_match(path_triples, [("?x", "<p>+", "c")])
    assert sorted(r.x for r in got.collect()) == ["a", "b"]
    # path joins with a plain pattern on the shared var
    got = bgp_match(path_triples, [("?x", "<p>/<q>", "?y"),
                                   ("?x", "p", "?z")])
    assert [(r.x, r.y, r.z) for r in got.collect()] == [("b", "d", "c")]


def test_bgp_path_pattern_graph_slot(path_triples):
    # a CONSTANT graph term scopes the path closure to that graph
    t = path_triples.withColumn("graph", F.lit("g0"))
    got = bgp_match(t, [("?x", "<p>+", "c", "g0")])
    assert sorted(r.x for r in got.collect()) == ["a", "b"]
    # an edge homed in another graph is invisible to the scoped path
    t2 = path_triples.withColumn(
        "graph", F.when(F.col("subj") == "a", "g1").otherwise("g0"))
    got2 = bgp_match(t2, [("?x", "<p>+", "c", "g0")])
    assert sorted(r.x for r in got2.collect()) == ["b"]
    # a VARIABLE graph term: one per-graph closure over every named
    # graph in a single job; the graph variable binds per row
    got3 = bgp_match(t, [("?x", "<p>+", "c", "?g")])
    assert sorted((r.x, r.g) for r in got3.collect()) == \
        [("a", "g0"), ("b", "g0")]
    # the a->b edge lives in g1, so a+ reaches c only within g0 via b;
    # in g1 the only p-path is a->b itself
    got4 = bgp_match(t2, [("?x", "<p>+", "?y", "?g")])
    assert sorted((r.x, r.y, r.g) for r in got4.collect()) == \
        [("a", "b", "g1"), ("b", "c", "g0")]


def test_kg_path_per_graph_equals_per_constant(spark):
    """kg_path(g_col=...) over the union of graphs == running the
    same path per constant graph — including the per-graph
    zero-length node identity of '*'."""
    from jsonld_spark.operators.kg import kg_path
    rows = [("a", "p", "b", "g0"), ("b", "p", "c", "g0"),
            ("c", "q", "d", "g0"),
            ("a", "p", "c", "g1"), ("c", "q", "a", "g1"),
            ("z", "r", "z", "g1")]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, graph string")
    expr = "(<p>+/<q>) | <p>*"
    merged = {(r.g, r.src, r.dst)
              for r in kg_path(t, expr, g_col="graph").collect()}
    split = set()
    for g in ("g0", "g1"):
        part = kg_path(t.where(F.col("graph") == g), expr)
        split |= {(g, r.src, r.dst) for r in part.collect()}
    assert merged == split


def test_construct_with_path_pattern(path_triples):
    # paths compose through CONSTRUCT's WHERE clause like any pattern
    from jsonld_spark.operators.kg import construct
    got = construct(path_triples, [("?x", "<p>+", "c")],
                    [("?x", "ex:reaches", "c")])
    assert sorted((r.subj, r.pred, r.obj_value) for r in got.collect()) \
        == [("a", "ex:reaches", "c"), ("b", "ex:reaches", "c")]


def test_bgp_values_constrains_and_extends(path_triples):
    got = bgp_match(path_triples, [("?x", "p", "?y")],
                    values=[{"y": "b", "tag": "T1"},
                            {"y": "zzz", "tag": "T2"}])
    assert [(r.x, r.y, r.tag) for r in got.collect()] == [("a", "b", "T1")]


def test_bgp_values_undef_matches_anything(path_triples):
    got = bgp_match(path_triples, [("?x", "p", "?y")],
                    values=[{"y": None, "tag": "ALL"},
                            {"y": "c", "tag": "C"}])
    rows = sorted((r.x, r.y, r.tag) for r in got.collect())
    assert rows == [("a", "b", "ALL"), ("b", "c", "ALL"), ("b", "c", "C")]


def test_bgp_bind_chains_and_rejects_rebind(path_triples):
    got = bgp_match(path_triples, [("?x", "p", "?y")],
                    binds=[("u", "upper(y)"), ("uu", "concat(u, '!')")])
    rows = sorted((r.x, r.u, r.uu) for r in got.collect())
    assert rows == [("a", "B", "B!"), ("b", "C", "C!")]
    with pytest.raises(ValueError, match="rebind"):
        bgp_match(path_triples, [("?x", "p", "?y")],
                  binds=[("y", "upper(x)")])


def test_bgp_constant_pattern_existence_gate(path_triples):
    assert bgp_match(path_triples,
                     [("?x", "p", "?y"), ("c", "q", "d")]).count() == 2
    assert bgp_match(path_triples,
                     [("?x", "p", "?y"), ("c", "q", "NO")]).count() == 0
    with pytest.raises(ValueError, match="ask"):
        bgp_match(path_triples, [("c", "q", "d")])


def test_bgp_distinct_solutions_flag(path_triples):
    dup = path_triples.unionByName(path_triples)
    assert bgp_match(dup, [("?x", "p", "?y")]).count() == 2
    assert bgp_match(dup, [("?x", "p", "?y")],
                     distinct_solutions=False).count() == 4


def test_same_as_fuse_chain_collapses(spark):
    from jsonld_spark.operators.kg import SAME_AS, same_as_fuse
    t = spark.createDataFrame(
        [("A", SAME_AS, "B", "iri"), ("B", SAME_AS, "C", "iri"),
         ("A", "name", "alice", "literal"), ("C", "knows", "D", "iri"),
         ("E", "knows", "B", "iri"),
         # literal object named like a node must NOT be rewritten
         ("F", "label", "B", "literal")],
        "subj string, pred string, obj_value string, obj_kind string")
    got = {(r.subj, r.pred, r.obj_value) for r in same_as_fuse(t).collect()}
    assert got == {("A", "name", "alice"), ("A", "knows", "D"),
                   ("E", "knows", "A"), ("F", "label", "B")}


def test_same_as_fuse_bnodes_merge(spark):
    from jsonld_spark.operators.kg import SAME_AS, same_as_fuse
    t = spark.createDataFrame(
        [("_:b1", SAME_AS, "http://x/e", "iri"),
         ("_:b1", "p", "v", "literal"),
         ("y", "q", "_:b1", "bnode")],
        "subj string, pred string, obj_value string, obj_kind string")
    got = {(r.subj, r.pred, r.obj_value) for r in same_as_fuse(t).collect()}
    # the IRI member represents the component (prefer_iri_reps): the
    # whole point of sameAs fusion is folding the bnode INTO its IRI
    # identity — electing the bnode ('_:' sorts before 'http') would
    # rewrite a real IRI to a blank-node label (review fix)
    assert got == {("http://x/e", "p", "v"), ("y", "q", "http://x/e")}


def test_shape_accepts_bnode_and_legacy_blank():
    from jsonld_spark.operators.kg import Shape
    assert Shape("s", path="p", node_kind="bnode").node_kind == "bnode"
    assert Shape("s", path="p", node_kind="blank").node_kind == "bnode"


def test_rdfs3_entails_bnode_objects(spark):
    schema = _schema(spark, [(EX + "author", RANGE, EX + "Person")])
    t = spark.createDataFrame(
        [("d1", EX + "author", "_:a", "bnode"),
         ("d2", EX + "author", "lit", "literal")],
        "subj string, pred string, obj_value string, obj_kind string")
    got = {(r.subj, r.pred, r.obj) for r in rdfs_closure(t, schema).collect()}
    assert ("_:a", RDF_TYPE, EX + "Person") in got
    assert not any(s == "lit" for s, _, _ in got)


def test_owl_inverse_includes_bnodes(spark):
    from jsonld_spark.operators.kg import INVERSE_OF, owl_closure
    schema = _schema(spark, [(EX + "partOf", INVERSE_OF, EX + "hasPart")])
    t = spark.createDataFrame(
        [("_:w", EX + "partOf", "_:whole", "bnode"),
         ("x", EX + "partOf", "lit", "literal")],
        "subj string, pred string, obj_value string, obj_kind string")
    got = {(r.subj, r.pred, r.obj) for r in owl_closure(t, schema).collect()}
    assert ("_:whole", EX + "hasPart", "_:w") in got
    assert not any(o == "x" and s == "lit" for s, _, o in got)


def test_bgp_exists_semi_join(triples):
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    exists=[[("?d", EX + "cites", "?y")]])
    assert [(r.d, r.a) for r in got.collect()] == [("d1", "alice")]
    with pytest.raises(ValueError, match="per-solution"):
        bgp_match(triples, [("?d", EX + "author", "?a")],
                  exists=[[("?x", EX + "cites", "?y")]])


def test_bgp_minus_anti_and_disjoint_noop(triples):
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    minus=[[("?d", EX + "cites", "?y")]])
    assert sorted((r.d, r.a) for r in got.collect()) == [
        ("d2", "alice"), ("d3", "bob")]
    # disjoint domains: MINUS removes nothing (SPARQL §8.3.3)
    got = bgp_match(triples, [("?d", EX + "author", "?a")],
                    minus=[[("?x", EX + "cites", "?y")]])
    assert got.count() == 3


def test_construct_with_exists_and_values(triples):
    from jsonld_spark.operators.kg import construct
    out = construct(
        triples, [("?d", EX + "author", "?a")],
        template=[("?d", EX + "verifiedAuthor", "?a")],
        exists=[[("?d", EX + "cites", "?y")]])
    assert [(r.subj, r.pred, r.obj_value) for r in out.collect()] == [
        ("d1", EX + "verifiedAuthor", "alice")]
    out = construct(
        triples, [("?d", EX + "author", "?a")],
        template=[("?d", EX + "tier", "?t")],
        values=[{"a": "alice", "t": "gold"}])
    assert sorted((r.subj, r.obj_value) for r in out.collect()) == [
        ("d1", "gold"), ("d2", "gold")]


def test_ask_with_exists_minus(triples):
    from jsonld_spark.operators.kg import ask
    assert ask(triples, [("?d", EX + "author", "?a")],
               exists=[[("?d", EX + "cites", "?y")]])
    assert not ask(triples, [("?d", EX + "author", "?a")],
                   minus=[[("?d", EX + "author", "?a")]])


def test_kg_path_negated_property_set(path_triples):
    from jsonld_spark.operators.kg import kg_path
    # !<p>: every triple whose predicate is NOT p
    got = {(r.src, r.dst) for r in kg_path(path_triples, "!<p>").collect()}
    assert got == {("c", "d"), ("a", "x")}
    # !(<p>|<q>): only r edges remain
    got = {(r.src, r.dst)
           for r in kg_path(path_triples, "!(<p>|<q>)").collect()}
    assert got == {("a", "x")}
    # mixed: forward not-p UNION reverse not-q
    got = {(r.src, r.dst)
           for r in kg_path(path_triples, "!(<p>|^<q>)").collect()}
    assert got == ({("c", "d"), ("a", "x")}            # fwd, pred != p
                   | {("b", "a"), ("c", "b"), ("x", "a")})  # rev, pred != q
    # inverse-only: reverse triples with pred != p
    got = {(r.src, r.dst) for r in kg_path(path_triples, "!^<p>").collect()}
    assert got == {("d", "c"), ("x", "a")}
    # composes with closures
    got = {(r.src, r.dst)
           for r in kg_path(path_triples, "(!<q>)+").collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "c"), ("a", "x")}
    with pytest.raises(ValueError, match="negated"):
        kg_path(path_triples, "!(<p>/<q>)")


# ---------------------------------------------------------------------------
# round-5 full-file review fixes
# ---------------------------------------------------------------------------

def test_ask_all_constant_patterns(spark):
    from jsonld_spark.operators.kg import ask
    t = spark.createDataFrame([("s", "p", "o"), ("s2", "p", "o2")],
                              "subj string, pred string, obj_value string")
    assert ask(t, [("s", "p", "o")]) is True
    assert ask(t, [("s", "p", "zzz")]) is False
    assert ask(t, [("s", "p", "o"), ("s2", "p", "o2")]) is True
    assert ask(t, [("s", "p", "o"), ("s2", "p", "nope")]) is False


def test_ask_constant_property_path(spark):
    from jsonld_spark.operators.kg import ask
    t = spark.createDataFrame(
        [("a", "http://x/p", "b"), ("b", "http://x/p", "c")],
        "subj string, pred string, obj_value string")
    assert ask(t, [("a", "<http://x/p>+", "c")]) is True
    assert ask(t, [("c", "<http://x/p>+", "a")]) is False


def test_same_as_fuse_custom_columns(spark):
    from jsonld_spark.operators.kg import SAME_AS, same_as_fuse
    t = spark.createDataFrame(
        [("a", SAME_AS, "b", "iri"), ("a", "http://x/p", "v", "literal"),
         ("b", "http://x/p", "v", "literal")],
        "s string, p string, o string, k string")
    got = same_as_fuse(t, s_col="s", p_col="p", o_col="o", kind_col="k")
    rows = {tuple(r) for r in got.collect()}
    assert rows == {("a", "http://x/p", "v", "literal")}
    assert got.columns == ["s", "p", "o", "k"]


def test_minus_filter_double_quoted_literal_not_correlated(spark):
    # a double-quoted Spark SQL string literal must not be mistaken
    # for an outer-variable reference (which would silently turn the
    # MINUS into a no-op per the no-substitution rule)
    from jsonld_spark.operators.kg import bgp_match
    t = spark.createDataFrame(
        [("e1", "http://x/status", "x"), ("e2", "http://x/status", "y"),
         ("e1", "http://x/of", "x"), ("e2", "http://x/of", "x")],
        "subj string, pred string, obj_value string")
    got = bgp_match(
        t, [("?e", "http://x/of", "?x")],
        minus=[{"patterns": [("?e", "http://x/status", "?s")],
                "filters": ['s = "x"']}])
    assert {tuple(r) for r in got.collect()} == {("e2", "x")}


def test_group_constant_pattern_is_gate(spark):
    from jsonld_spark.operators.kg import bgp_match
    t = spark.createDataFrame(
        [("flag", "http://x/on", "true"), ("d1", "http://x/p", "v1"),
         ("d1", "http://x/q", "w")],
        "subj string, pred string, obj_value string")
    # constant pattern inside EXISTS gates the group
    got = bgp_match(t, [("?d", "http://x/p", "?v")],
                    exists=[[("flag", "http://x/on", "true"),
                             ("?d", "http://x/q", "?w")]])
    assert {tuple(r) for r in got.collect()} == {("d1", "v1")}
    # gate closed: the group can never match
    got2 = bgp_match(t, [("?d", "http://x/p", "?v")],
                     exists=[[("flag", "http://x/on", "false"),
                              ("?d", "http://x/q", "?w")]])
    assert got2.count() == 0


def test_rdfs_closure_emits_schema_closure_triples(spark):
    from jsonld_spark.operators.kg import RDF_TYPE, SUB_CLASS, rdfs_closure
    t = spark.createDataFrame(
        [("n1", RDF_TYPE, "A", "iri")],
        "subj string, pred string, obj_value string, obj_kind string")
    sch = spark.createDataFrame(
        [("A", SUB_CLASS, "B"), ("B", SUB_CLASS, "C")],
        "subj string, pred string, obj_value string")
    got = {tuple(r) for r in rdfs_closure(t, sch).collect()}
    # rdfs11: the transitive subClassOf triple itself is entailed
    assert ("A", SUB_CLASS, "C") in got
    assert ("n1", RDF_TYPE, "C") in got


def test_owl_closure_symmetric_transitive_interaction(spark):
    from jsonld_spark.operators.kg import (
        RDF_TYPE, SYMMETRIC_PROPERTY, TRANSITIVE_PROPERTY, owl_closure)
    P = "http://x/linked"
    t = spark.createDataFrame(
        [("a", P, "b", "iri"), ("c", P, "b", "iri")],
        "subj string, pred string, obj_value string, obj_kind string")
    sch = spark.createDataFrame(
        [(P, RDF_TYPE, SYMMETRIC_PROPERTY),
         (P, RDF_TYPE, TRANSITIVE_PROPERTY)],
        "subj string, pred string, obj_value string")
    got = {tuple(r) for r in owl_closure(t, sch).collect()}
    # requires symmetry-derived (b,P,c) to feed the transitive closure
    assert ("a", P, "c") in got and ("c", P, "a") in got


def test_owl_closure_inverse_of_transitive_closure_pairs(spark):
    from jsonld_spark.operators.kg import (
        INVERSE_OF, RDF_TYPE, TRANSITIVE_PROPERTY, owl_closure)
    P, Q = "http://x/anc", "http://x/desc"
    t = spark.createDataFrame(
        [("a", P, "b", "iri"), ("b", P, "c", "iri")],
        "subj string, pred string, obj_value string, obj_kind string")
    sch = spark.createDataFrame(
        [(P, RDF_TYPE, TRANSITIVE_PROPERTY), (Q, INVERSE_OF, P)],
        "subj string, pred string, obj_value string")
    got = {tuple(r) for r in owl_closure(t, sch).collect()}
    # the inverse of the CLOSURE-derived (a,P,c) must be entailed
    assert ("a", P, "c") in got and ("c", Q, "a") in got


def test_shacl_cardinality_counts_distinct_terms(spark):
    from jsonld_spark.operators.kg import Shape, shacl_validate
    XSD = "http://www.w3.org/2001/XMLSchema#"
    t = spark.createDataFrame(
        [("n1", "http://x/label", "chat", "literal", XSD + "string", None),
         ("n1", "http://x/label", "chat", "literal", None, "fr"),
         ("n1", "http://x/kind", "thing", "literal", XSD + "string", None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_datatype string, obj_lang string")
    sh = Shape(shape_id="s1", targets="http://x/kind",
               path="http://x/label", min_count=2)
    viols = shacl_validate(t, [sh])
    # "chat" plain and "chat"@fr are TWO value nodes — no violation
    assert viols.count() == 0


def test_group_entry_guard_rejects_malformed_dicts(spark):
    """Review regressions: union entries carrying coexisting body
    keys, mismatched branch_filters arity, and pattern-less dicts all
    refuse typed instead of silently ignoring keys or crashing."""
    t = spark.createDataFrame(
        [("d1", "http://example.org/p", "x")],
        "subj string, pred string, obj_value string")
    P = "http://example.org/p"
    with pytest.raises(ValueError, match="cannot also carry"):
        bgp_match(t, [("?d", P, "?x")],
                  optional=[{"union": [[("?d", P, "?y")]],
                             "not_exists": [[("?d", P, "?z")]]}])
    with pytest.raises(ValueError, match="must parallel"):
        bgp_match(t, [("?d", P, "?x")],
                  not_exists=[{"union": [[("?d", P, "?y")],
                                         [("?d", P, "?z")]],
                               "branch_filters": [["`y` = 'a'"]]}])
    with pytest.raises(ValueError, match="'patterns' key"):
        bgp_match(t, [("?d", P, "?x")],
                  not_exists=[{"filters": ["`x` = 'a'"]}])


def test_driver_closure_reflexive_on_cycles():
    """rdfs5/11 on a subClassOf cycle (the class-equivalence idiom):
    A and B each entail the reflexive pair; acyclic nodes get none."""
    from jsonld_spark.operators.kg import _driver_closure
    got = _driver_closure([("A", "B"), ("B", "A"), ("C", "A")])
    assert ("A", "A") in got and ("B", "B") in got
    assert ("C", "C") not in got
    assert ("C", "B") in got and ("A", "B") in got


def test_minus_correlated_filter_literal_with_case_word(spark):
    """Advice fix: the IF()/CASE refusal must not trip on the word
    'case' inside a STRING LITERAL of a correlated MINUS filter."""
    from pyspark.sql import functions as F

    from jsonld_spark.operators.kg import bgp_match
    t = spark.createDataFrame(
        [("a", "http://p", "x"), ("b", "http://p", "case study")],
        "subj string, pred string, obj_value string")
    out = bgp_match(t, [("?s", "http://p", "?g")],
                    minus=[{"patterns": [("?s", "http://p", "?g2")],
                            "filters": ["g = 'case study'"]}])
    # outer ?g stays UNBOUND inside the MINUS group (§8.3.3 — no
    # substitution), so the filter errors, the group is empty and the
    # MINUS is a no-op — the point here is that the 'case' WORD inside
    # the string literal never trips the IF()/CASE refusal (ValueError)
    got = {(r["s"], r["g"]) for r in out.collect()}
    assert got == {("a", "x"), ("b", "case study")}


def test_null_refs_keeps_function_call_named_like_var():
    """Advice fix: an outer variable named like a SQL function (e.g.
    ?abs) must not clobber abs(...) calls over group variables."""
    from jsonld_spark.operators.kg import _null_refs
    out = _null_refs("abs(x) > 2 || abs > 1", {"abs"})
    assert out == "abs(x) > 2 || NULL > 1"
