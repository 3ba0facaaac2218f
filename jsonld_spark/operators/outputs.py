"""Output-stage operators: fromRDF, compaction, flattening, framing as
distributed column transforms (SURVEY.md §2 T7, T9, T10–T13).

Each wraps the pure-core per-document algorithm in a
``kernels.map_rows`` stage (Arrow batches; a failing document becomes
one ``error`` row). Contexts/frames are captured by value into the
function's closure (small, broadcast with the task — the reference
resolves them once per call too, JsonLdProcessor.java:43-84, 294-345).
Outputs are canonical JSON strings (sorted keys, compact separators) so
results are deterministic, hashable, and SQL-comparable.

fromRDF is the join-shaped one: quads group by document through
``kernels.map_groups`` (the pipeline keeps doc_id on every quad
precisely so graph reassembly is a local regroup by doc_id, not a
global node-map build — SURVEY.md §3.2).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..core.compact import compact_document, flatten_document
from ..core.context import JsonLdOptions
from ..core.expand import expand_document
from ..core.frame import frame_document
from ..core.fromrdf import from_rdf_quads
from .kernels import QUAD_FIELDS, map_groups, map_rows, to_quads

_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("out_json", T.StringType()),
    T.StructField("error", T.StringType()),
])

_OPS = {
    "expand": lambda doc, aux, opts: expand_document(doc, opts),
    "compact": lambda doc, aux, opts: compact_document(doc, aux, opts),
    "flatten": lambda doc, aux, opts: flatten_document(doc, aux, opts),
    "frame": lambda doc, aux, opts: frame_document(doc, aux, opts),
}


def _canon_json(v: Any) -> str:
    return json.dumps(v, sort_keys=True, separators=(",", ":"),
                      ensure_ascii=False)


def _per_doc(assembled: DataFrame, op: str, aux: Any,
             options: JsonLdOptions | None) -> DataFrame:
    """(doc_id, doc_json) → (doc_id, out_json, error): ``_OPS[op]`` with
    one ``aux`` and one options object for every document."""
    fn, opts = _OPS[op], options or JsonLdOptions()

    def run(doc_id, doc_json):
        return [(doc_id, _canon_json(fn(json.loads(doc_json), aux, opts)),
                 None)]

    return map_rows(assembled, run, _OUT_SCHEMA, ["doc_id", "doc_json"],
                    name=op)


def compact_docs(assembled: DataFrame, context: Any,
                 options: JsonLdOptions | None = None) -> DataFrame:
    """(doc_id, doc_json) → (doc_id, out_json) compacted with ``context``
    (expand → compact, JsonLdProcessor.java:43-84)."""
    return _per_doc(assembled, "compact", context, options)


def flatten_docs(assembled: DataFrame, context: Any = None,
                 options: JsonLdOptions | None = None) -> DataFrame:
    """(doc_id, doc_json) → flattened (+optionally compacted) form
    (JsonLdProcessor.java:173-255)."""
    return _per_doc(assembled, "flatten", context, options)


def frame_docs(assembled: DataFrame, frame: Any,
               options: JsonLdOptions | None = None) -> DataFrame:
    """(doc_id, doc_json) → framed form (JsonLdProcessor.java:294-345)."""
    return _per_doc(assembled, "frame", frame, options)


def jsonld_transform_docs(rows: DataFrame, op: str,
                          document_loader=None) -> DataFrame:
    """Heterogeneous per-document JSON-LD transform: every row carries
    its OWN target context/frame (``aux_json``) and options
    (``opts_json`` — JsonLdOptions kwargs as JSON), so a mixed corpus
    (documents destined for different vocabularies, processing modes, or
    bases) transforms in ONE distributed pass instead of one job per
    configuration. Input columns: (doc_id, doc_json[, aux_json]
    [, opts_json]); output: (doc_id, out_json, error).

    Options objects are memoized per distinct ``opts_json`` inside the
    task — at 10^12 docs the distinct-option count is tiny, so the
    per-row cost stays one dict lookup."""
    if op not in _OPS:
        raise ValueError(f"op must be one of {sorted(_OPS)}, got {op!r}")
    fn = _OPS[op]
    opts_memo: dict[str, JsonLdOptions] = {}

    def options_for(opts_json) -> JsonLdOptions:
        key = opts_json or ""
        if key not in opts_memo:
            kwargs = json.loads(opts_json) if opts_json else {}
            opts_memo[key] = JsonLdOptions(
                document_loader=document_loader, **kwargs)
        return opts_memo[key]

    def transform(doc_id, doc_json, aux_json, opts_json):
        doc = json.loads(doc_json)
        aux = json.loads(aux_json) if aux_json else None
        return [(doc_id, _canon_json(fn(doc, aux, options_for(opts_json))),
                 None)]

    return map_rows(rows, transform, _OUT_SCHEMA,
                    ["doc_id", "doc_json", "aux_json", "opts_json"])


def jsonld_from_triples(triples: DataFrame, group_col: str = "doc_id",
                        use_native_types: bool = False) -> DataFrame:
    """fromRDF (T9): quads → expanded JSON-LD per group. Grouping by
    doc_id keeps reassembly local (list reconstruction via rdf:first/
    rest usages runs per document inside the batch, never as a global
    self-join); grouping by graph instead is a ``repartition`` away.
    Quads whose group key is NULL belong to no document: together they
    give one error row (NULL key, NULL ``out_json``, ``ValueError``)."""

    def fromrdf(key, rows):
        if key is None:
            raise ValueError(f"{len(rows)} quads have a NULL {group_col}")
        return [(key, _canon_json(from_rdf_quads(
            to_quads(rows), use_native_types=use_native_types)), None)]

    return map_groups(triples, group_col, fromrdf, _OUT_SCHEMA, QUAD_FIELDS)
