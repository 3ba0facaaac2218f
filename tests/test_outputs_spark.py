"""Distributed output stages vs the pure-core algorithms."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from jsonld_spark.core.compact import compact_document, flatten_document
from jsonld_spark.core.fromrdf import from_rdf_quads
from jsonld_spark.core.rdf import Quad
from jsonld_spark.core.frame import frame_document
from jsonld_spark.operators.outputs import (compact_docs, flatten_docs,
                                            frame_docs, jsonld_from_triples,
                                            jsonld_transform_docs)
from jsonld_spark.operators.pipeline import docs_to_triples, extract_quads
from jsonld_spark.sources.interleaved import (assemble_documents,
                                              interleaved_from_documents)

SF_DIR = "/root/testdata/sf0.001"

CTX = {"text": "http://schema.org/text",
       "lang": "http://schema.org/inLanguage",
       "source": "http://purl.org/dc/terms/source",
       "nChars": "http://example.org/nChars"}


@pytest.fixture(scope="module")
def assembled(spark):
    df = assemble_documents(
        interleaved_from_documents(spark, SF_DIR)).persist()
    yield df
    df.unpersist()


def _core_map(assembled, fn):
    return {r.doc_id: fn(json.loads(r.doc_json))
            for r in assembled.limit(50).collect()}


def test_compact_matches_core(spark, assembled):
    got = {r.doc_id: json.loads(r.out_json)
           for r in compact_docs(assembled.limit(50), CTX).collect()}
    want = _core_map(assembled, lambda d: compact_document(d, CTX))
    assert got == want and not any(v is None for v in got.values())


def test_flatten_matches_core(spark, assembled):
    got = {r.doc_id: json.loads(r.out_json)
           for r in flatten_docs(assembled.limit(50)).collect()}
    want = _core_map(assembled, lambda d: flatten_document(d))
    assert got == want


def test_frame_matches_core(spark, assembled):
    frame = {"@context": CTX, "@type": []}
    from jsonld_spark.core.frame import frame_document
    got = {r.doc_id: json.loads(r.out_json)
           for r in frame_docs(assembled.limit(20), frame).collect()}
    want = {r.doc_id: frame_document(json.loads(r.doc_json), frame)
            for r in assembled.limit(20).collect()}
    assert got == want


def test_fromrdf_matches_core(spark):
    triples = docs_to_triples(
        interleaved_from_documents(spark, SF_DIR)).persist()
    try:
        got = {r.doc_id: json.loads(r.out_json)
               for r in jsonld_from_triples(triples).collect()}
        rows = triples.collect()
        by_doc: dict[str, list[Quad]] = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(
                Quad(r.graph, r.subj, r.pred, r.obj_kind, r.obj_value,
                     r.obj_datatype, r.obj_lang))
        for doc_id, quads in by_doc.items():
            assert got[doc_id] == from_rdf_quads(quads), doc_id
    finally:
        triples.unpersist()


_GOOD = {"@id": "http://e/x", "http://e/p": "v"}
_MIXED = [("good", json.dumps(_GOOD)),
          ("bad-json", '{"@id": broken'),
          ("bad-jsonld", '{"@context": {"": "http://e/"}, "a": 1}')]
_FRAME = {"@context": CTX}
_STAGES = {
    "compact": (lambda df: compact_docs(df, CTX),
                lambda d: compact_document(d, CTX)),
    "flatten": (flatten_docs, flatten_document),
    "frame": (lambda df: frame_docs(df, _FRAME),
              lambda d: frame_document(d, _FRAME)),
    "transform": (lambda df: jsonld_transform_docs(
        df.withColumn("aux_json", F.lit(json.dumps(CTX))), "compact"),
        lambda d: compact_document(d, CTX)),
}


@pytest.mark.parametrize("stage", sorted(_STAGES))
def test_document_outputs_isolate_bad_documents(spark, stage):
    """A malformed payload becomes one NULL-output error row, with the
    same error text extract_quads gives; the good document's output is
    unchanged."""
    df = spark.createDataFrame(_MIXED, "doc_id string, doc_json string")
    run, core = _STAGES[stage]
    rows = run(df).collect()
    got = {r.doc_id: r for r in rows}
    assert len(rows) == len(got) == 3
    assert got["good"].error is None
    assert json.loads(got["good"].out_json) == core(_GOOD)
    want = {r.doc_id: r.error for r in extract_quads(df).collect()
            if r.error is not None}
    assert want["bad-json"].startswith("JSONDecodeError")
    assert "invalid term definition" in want["bad-jsonld"]
    for doc_id in ("bad-json", "bad-jsonld"):
        assert got[doc_id].out_json is None
        assert got[doc_id].error == want[doc_id]


def test_fromrdf_null_key_quads_give_one_error_row(spark):
    """Quads with a NULL doc_id belong to no document: they give one
    error row, and the other document's output is unchanged."""
    from jsonld_spark.operators.kernels import QUAD_COLS
    good = [("d1", None, "http://e/x", "http://e/p", "literal", "v",
             None, None)]
    orphans = [(None, None, "http://e/y", "http://e/p", "literal", str(i),
                None, None) for i in range(3)]
    rows = jsonld_from_triples(
        spark.createDataFrame(
            good + orphans, ", ".join(f"{c} string" for c in QUAD_COLS))
    ).collect()
    assert len(rows) == 2
    got = {r.doc_id: r for r in rows}
    assert got["d1"].error is None
    assert json.loads(got["d1"].out_json) == from_rdf_quads(
        [Quad(*q[1:]) for q in good])
    assert got[None].out_json is None
    assert got[None].error.startswith("ValueError: ")
