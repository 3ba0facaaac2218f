"""Term-dictionary encoding: id joins must reproduce string-side
results exactly, and the decode path must be lossless."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.encode import (
    bgp_match_encoded,
    collision_audit,
    decode_column,
    encode_triples,
    term_dictionary,
)
from jsonld_spark.operators.kg import bgp_match

EX = "http://example.org/"


@pytest.fixture()
def triples(spark):
    rows = [
        ("d1", EX + "author", "alice"),
        ("d2", EX + "author", "alice"),
        ("d3", EX + "author", "bob"),
        ("d1", EX + "lang", "en"),
        ("d2", EX + "lang", "de"),
        ("d3", EX + "lang", "en"),
        ("d1", EX + "cites", "d2"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string")


def test_encode_roundtrip_and_no_collisions(triples):
    enc = encode_triples(triples)
    assert {"subj_id", "obj_value_id"} <= set(enc.columns)
    d = term_dictionary(triples)
    assert collision_audit(d).count() == 0
    # decode restores the exact term set
    back = decode_column(enc.select("subj_id"), d, "subj_id", "subj")
    assert {r.subj for r in back.collect()} == {"d1", "d2", "d3"}


def test_bgp_match_encoded_equals_string_side(triples):
    enc = encode_triples(triples)
    d = term_dictionary(triples)
    pats = [("?d", EX + "author", "?a"), ("?d", EX + "lang", "en")]
    got = bgp_match_encoded(enc, pats, dictionary=d)
    want = bgp_match(triples, pats)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_encoded_constant_subject_and_chain(triples):
    enc = encode_triples(triples)
    d = term_dictionary(triples)
    # constant subject term is hashed and pushed as a long filter
    got = bgp_match_encoded(enc, [("d1", EX + "author", "?a")],
                            dictionary=d)
    assert [r.a for r in got.collect()] == ["alice"]
    # chain join runs on the id columns
    got = bgp_match_encoded(
        enc, [("?x", EX + "cites", "?y"), ("?y", EX + "author", "?a")],
        dictionary=d)
    assert [tuple(r) for r in got.collect()] == [("d1", "d2", "alice")]


def test_encoded_join_plan_uses_long_keys(triples):
    enc = encode_triples(triples)
    got = bgp_match_encoded(enc, [("?d", EX + "author", "?a"),
                                  ("?d", EX + "lang", "?l")])
    # without a dictionary the variable columns stay 8-byte ids
    assert dict(got.dtypes)["d"] == "bigint"
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan


def test_encoded_rejects_paths(triples):
    enc = encode_triples(triples)
    with pytest.raises(ValueError, match="encoded"):
        bgp_match_encoded(enc, [("?x", f"<{EX}cites>+", "?y")])


def test_encoded_binds_bigint_survives_decode(triples):
    """Round-5 verdict fix: a computed BIGINT column forwarded through
    ``**kwargs`` (a BIND expression) must NOT be dictionary-decoded —
    the old every-bigint loop left-join-missed it to NULL. Only
    pattern-bound subject/object variables decode. (A bind referencing
    a term variable evaluates over the 8-byte id — binds run before
    decode — so this test binds a term-independent expression.)"""
    enc = encode_triples(triples)
    d = term_dictionary(triples)
    out = bgp_match_encoded(
        enc, [("?d", EX + "author", "?who")], dictionary=d,
        binds=[("flag", "cast(7 as bigint) * 6")])
    rows = {(r["d"], r["who"], r["flag"]) for r in out.collect()}
    assert rows == {("d1", "alice", 42), ("d2", "alice", 42),
                    ("d3", "bob", 42)}


def test_hash_of_runs_no_job(spark):
    """Constant terms are hashed over a local relation: the projection
    folds at optimization time, so no Spark job runs, and the hashes
    equal those of the same terms in an ordinary row-based frame."""
    from jsonld_spark.operators.encode import _hash_of
    terms = [EX + "a", "alice", "", "ünïcode"]
    sc = spark.sparkContext
    sc.setJobGroup("hash_of_jobs", "encode._hash_of")
    try:
        got = _hash_of(spark, terms)
        jobs = sc.statusTracker().getJobIdsForGroup("hash_of_jobs")
    finally:
        sc.setJobGroup(None, None)
    want = {r.t: r.h for r in spark.createDataFrame(
        [(t,) for t in terms], "t string")
        .select("t", F.xxhash64("t").alias("h")).collect()}
    assert got == want
    assert len(jobs) == 0
