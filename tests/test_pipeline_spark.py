"""End-to-end Spark slice: interleaved docs → triples DataFrame.

Verifies the input_hint invariants: span-sequence reassembly equality,
per-document triple extraction, media-ref linking, error isolation.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.pipeline import docs_to_triples, extract_quads
from jsonld_spark.sources.interleaved import (assemble_documents,
                                              interleaved_from_documents,
                                              jsonld_payload_from_documents)

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def interleaved(spark):
    return interleaved_from_documents(spark, SF_SMALL).cache()


def test_span_reassembly_equality(spark, interleaved):
    """Per-row invariant vs reference: text spans concatenated in offset
    order reproduce the payload exactly (input_hint)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    payloads = jsonld_payload_from_documents(docs)
    reassembled = assemble_documents(interleaved).select("doc_id", "doc_json")
    diff = (payloads.join(reassembled, "doc_id")
            .where(payloads.doc_json != reassembled.doc_json))
    assert diff.count() == 0


def test_spans_are_interleaved(interleaved):
    row = interleaved.orderBy("doc_id").first()
    kinds = [s.kind for s in sorted(row.spans, key=lambda s: s.offset)]
    assert kinds == ["text", "media", "text", "text"]
    offsets = [s.offset for s in sorted(row.spans, key=lambda s: s.offset)]
    assert offsets == sorted(offsets)


def test_triples_extraction(spark, interleaved):
    triples = docs_to_triples(interleaved)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n_docs = docs.count()
    # 5 JSON-LD triples per doc (text, lang, source, nChars) = 4 props,
    # + 1 media triple
    per_doc = (triples.groupBy("doc_id").count()
               .agg(F.min("count").alias("mn"), F.max("count").alias("mx"))
               .first())
    assert per_doc.mn == 5 and per_doc.mx == 5
    assert triples.select("doc_id").distinct().count() == n_docs
    # literal typing: n_chars arrives as xsd:integer with canonical lexical
    nchars = triples.where(F.col("pred") == "http://example.org/nChars").first()
    assert nchars.obj_kind == "literal"
    assert nchars.obj_datatype == "http://www.w3.org/2001/XMLSchema#integer"
    assert nchars.obj_value == str(int(nchars.obj_value))
    # media triples: iri objects under schema:associatedMedia
    media = triples.where(F.col("pred") == "http://schema.org/associatedMedia")
    assert media.count() == n_docs
    assert media.where(F.col("obj_kind") != "iri").count() == 0


def test_error_isolation(spark):
    """A malformed payload must produce an error row, not kill the job."""
    bad = spark.createDataFrame(
        [("good", '{"@id": "http://e/x", "http://e/p": "v"}'),
         ("bad-json", '{"@id": broken'),
         ("bad-jsonld", '{"@context": {"": "http://e/"}, "a": 1}')],
        "doc_id string, doc_json string")
    out = extract_quads(bad).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc["good"][0].error is None
    assert "JSONDecodeError" in by_doc["bad-json"][0].error
    assert "invalid term definition" in by_doc["bad-jsonld"][0].error


def test_bnode_labels_are_content_deterministic(spark):
    """Blank-node labels must be a pure function of (doc content, doc_id):
    same input rows in any partitioning → identical labels."""
    doc = json.dumps({"http://e/p": {"http://e/q": "nested"}})
    df1 = spark.createDataFrame([("d1", doc)], "doc_id string, doc_json string")
    df8 = spark.createDataFrame([("d1", doc)] , "doc_id string, doc_json string").repartition(8)
    r1 = {(r.subj, r.pred, r.obj_value) for r in extract_quads(df1).collect()}
    r8 = {(r.subj, r.pred, r.obj_value) for r in extract_quads(df8).collect()}
    assert r1 == r8
    # and the label embeds the doc tag, not a global counter
    assert all(s.startswith("_:d") for s, _, _ in r1 if s.startswith("_:"))


def test_media_links_survive_doc_parse_errors(spark):
    """Media-ref triples derive from the spans table, not the JSON
    payload — a poison payload must not drop the doc's media edges."""
    rows = [("doc-1", "{not json", ["https://m/x.jpg"]),
            ("doc-2", '{"@id": "http://e/2", "http://e/p": "v"}',
             ["https://m/y.jpg"])]
    df = spark.createDataFrame(
        rows, "doc_id string, doc_json string, media_refs array<string>")
    out = extract_quads(df, include_media=True).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    errs = [r for r in by_doc["doc-1"] if r.error is not None]
    media = [r for r in by_doc["doc-1"]
             if r.pred == "http://schema.org/associatedMedia"]
    assert len(errs) == 1 and len(media) == 1
    assert media[0].subj == "http://example.org/doc/1"
    assert media[0].error is None
    # injectable subject derivation for corpora with their own IRI scheme
    out2 = extract_quads(df, include_media=True,
                         media_subject_fn=lambda d: f"urn:doc:{d}").collect()
    subj = {r.subj for r in out2
            if r.pred == "http://schema.org/associatedMedia"}
    assert subj == {"urn:doc:doc-1", "urn:doc:doc-2"}


def _nested(depth: int) -> str:
    return '{"http://e/p": ' * depth + '"v"' + "}" * depth


def test_hostile_inputs_become_error_rows(spark):
    """Truncated JSON, very deep nesting, a remote-context cycle and a
    1 MB literal, in one frame with good documents: each failing
    document gives exactly one error row, every other document gives
    the quads the pure core gives, and no task fails (a failed task
    fails the collect in local mode)."""
    import sys

    from jsonld_spark.core.context import JsonLdOptions
    from jsonld_spark.core.rdf import document_to_quads
    from jsonld_spark.operators.pipeline import _doc_tag, _prefix_bnode

    contexts = {"http://ctx/a": {"@context": "http://ctx/b"},
                "http://ctx/b": {"@context": "http://ctx/a"}}
    docs = {
        "good": '{"@id": "http://e/x", "http://e/p": {"http://e/q": "v"}}',
        "truncated": '{"@id": "http://e/t", "http://e/p": {"@value": "v"',
        "deep-5k": _nested(5_000),
        "deep-50k": _nested(50_000),
        "cycle": '{"@context": "http://ctx/a", "http://e/p": "v"}',
        "huge-literal": json.dumps({"@id": "http://e/big",
                                    "http://e/p": "x" * 1_000_000}),
    }
    failing = {"truncated": "JSONDecodeError", "deep-50k": "RecursionError",
               "cycle": "recursive context inclusion"}
    df = spark.createDataFrame(list(docs.items()),
                               "doc_id string, doc_json string")
    by_doc: dict[str, list] = {}
    for r in extract_quads(df, contexts=contexts).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, text in failing.items():
        rows = by_doc[doc_id]
        assert len(rows) == 1 and text in rows[0].error, rows[0].error

    opts = JsonLdOptions(document_loader=contexts.__getitem__)
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(20_000)
    try:
        for doc_id in set(docs) - set(failing):
            tag = _doc_tag(doc_id, docs[doc_id])
            want = sorted(
                (_prefix_bnode(q.graph, tag), _prefix_bnode(q.subj, tag),
                 q.pred, q.obj_kind,
                 _prefix_bnode(q.obj_value, tag)
                 if q.obj_kind == "bnode" else q.obj_value,
                 q.obj_datatype, q.obj_lang)
                for q in document_to_quads(json.loads(docs[doc_id]), opts))
            got = sorted((r.graph, r.subj, r.pred, r.obj_kind, r.obj_value,
                          r.obj_datatype, r.obj_lang)
                         for r in by_doc[doc_id])
            assert all(r.error is None for r in by_doc[doc_id])
            assert got == want, doc_id
    finally:
        sys.setrecursionlimit(limit)
    assert len(by_doc["deep-5k"]) == 5_000
    assert len(by_doc["huge-literal"]) == 1
