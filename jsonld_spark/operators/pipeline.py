"""Triple-extraction pipeline: interleaved docs → columnar quads DataFrame.

Stage layout (SURVEY.md §3.2 Spark trace):

    interleaved(doc_id, spans)
      → assemble (pure column ops)
      → mapInArrow(expand + node-map + toRDF per document,    # Arrow batches
                   plus the media-ref triples, in the same pass)
      → dropDuplicates                                        # global dedup

Per-document algorithms run inside Arrow batches (vectorization is
across documents); errors are captured per document into an ``error``
column instead of failing the job — at 10^12 docs a single malformed
payload must not kill the stage. Blank-node labels are globally
uniquified by prefixing a doc-content hash, so output labels are a pure
function of (doc content, doc_id), never of task scheduling
(SURVEY.md §4 determinism discipline).
"""

from __future__ import annotations

import hashlib
import json
import sys
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.context import JsonLdOptions
from ..core.rdf import document_to_quads
from ..sources.interleaved import (ASSOCIATED_MEDIA, DOC_IRI_PREFIX,
                                   assemble_documents)

QUAD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("graph", T.StringType()),
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj_kind", T.StringType()),
    T.StructField("obj_value", T.StringType()),
    T.StructField("obj_datatype", T.StringType()),
    T.StructField("obj_lang", T.StringType()),
    T.StructField("error", T.StringType()),
])

QUAD_COLS = ["doc_id", "graph", "subj", "pred", "obj_kind", "obj_value",
             "obj_datatype", "obj_lang"]


def _doc_tag(doc_id: str, doc_json: str) -> str:
    """Deterministic per-document bnode namespace tag."""
    return hashlib.sha1(f"{doc_id}\x00{doc_json}".encode()).hexdigest()[:12]


def _prefix_bnode(label: str, tag: str) -> str:
    return f"_:d{tag}{label[2:]}" if label.startswith("_:") else label


def default_media_subject(doc_id: str) -> str:
    """Subject IRI a media-ref triple attaches to, for the synthetic
    ``doc-{n}`` naming convention. Inject ``media_subject_fn`` for real
    corpora with their own document-IRI scheme."""
    did = doc_id[4:] if doc_id.startswith("doc-") else doc_id
    return DOC_IRI_PREFIX + did


def make_extract_quads(base: str | None = None,
                       contexts: dict[str, dict] | None = None,
                       globalize_bnodes: bool = True,
                       include_media: bool = False,
                       document_loader=None,
                       options_kwargs: dict | None = None,
                       media_subject_fn=None):
    """Build the mapInArrow kernel. ``contexts`` is the pre-resolved
    remote-context cache (broadcast by value into the closure — executors
    never do HTTP; reference role: JarCacheStorage). A batch ``base``
    column overrides the global ``base`` per document (documents carry
    their own URI). ``document_loader``/``options_kwargs`` override the
    cache loader / extra JsonLdOptions — conformance-harness hooks.

    ``include_media=True`` emits the media-linking triples from the same
    pass (batch carries a ``media_refs`` column): a JVM-side explode of
    the assembled lineage would re-evaluate the whole interpreted
    span-assembly expression chain per output row inside Generate —
    measured ~40× slower than emitting the rows here. Media rows derive
    from the spans table, not the JSON payload, so they are emitted even
    when the payload fails to parse (the error row coexists with them)."""
    ctx_cache = contexts or {}
    extra_opts = options_kwargs or {}
    media_subject = media_subject_fn or default_media_subject

    def cache_loader(url: str):
        if url in ctx_cache:
            return ctx_cache[url]
        raise IOError(f"remote context not pre-resolved: {url}")

    loader = document_loader or cache_loader

    def extract(batches: Iterator) -> Iterator:
        # mapInArrow kernel: RecordBatch in, RecordBatch out. Measured
        # wall-neutral vs mapInPandas (the stage's floor is the ~half-
        # billion Python string objects round-tripping the boundary,
        # not pandas block assembly) — kept for the smaller per-batch
        # memory footprint: no pandas block consolidation on 9
        # all-string columns, lists go straight to Arrow arrays
        import pyarrow as pa
        # deep recursive docs: one recursion frame budget well above default
        if sys.getrecursionlimit() < 20000:
            sys.setrecursionlimit(20000)
        out_schema = pa.schema([pa.field(n, pa.string())
                                for n in QUAD_SCHEMA.fieldNames()])
        opts = JsonLdOptions(base=base, document_loader=loader, **extra_opts)
        opts_by_base: dict = {}
        for rb in batches:
            names = set(rb.schema.names)
            pdf = {n: rb.column(n).to_pylist() for n in names}
            out = {c: [] for c in QUAD_SCHEMA.fieldNames()}

            def emit(doc_id, graph, subj, pred, okind, oval, odt, olang, err):
                out["doc_id"].append(doc_id)
                out["graph"].append(graph)
                out["subj"].append(subj)
                out["pred"].append(pred)
                out["obj_kind"].append(okind)
                out["obj_value"].append(oval)
                out["obj_datatype"].append(odt)
                out["obj_lang"].append(olang)
                out["error"].append(err)

            n_rows = rb.num_rows
            media_col = (pdf["media_refs"] if include_media
                         and "media_refs" in names
                         else [None] * n_rows)
            base_col = (pdf["base"] if "base" in names
                        else [None] * n_rows)
            for doc_id, doc_json, refs, row_base in zip(
                    pdf["doc_id"], pdf["doc_json"], media_col, base_col):
                try:
                    doc = json.loads(doc_json)
                    doc_opts = opts
                    if row_base is not None:
                        if row_base not in opts_by_base:
                            opts_by_base[row_base] = JsonLdOptions(
                                base=row_base, document_loader=loader,
                                **extra_opts)
                        doc_opts = opts_by_base[row_base]
                    quads = document_to_quads(doc, doc_opts)
                    tag = _doc_tag(doc_id, doc_json) if globalize_bnodes else None
                    for q in quads:
                        g, s, o = q.graph, q.subj, q.obj_value
                        if tag is not None:
                            g = _prefix_bnode(g, tag)
                            s = _prefix_bnode(s, tag)
                            if q.obj_kind == "bnode":
                                o = _prefix_bnode(o, tag)
                        emit(doc_id, g, s, q.pred, q.obj_kind, o,
                             q.obj_datatype, q.obj_lang, None)
                except Exception as e:  # noqa: BLE001 - per-doc isolation
                    emit(doc_id, None, None, None, None, None, None, None,
                         f"{type(e).__name__}: {e}")
                # media links come from the spans table, not the payload
                # — emit them even for docs whose payload failed above
                if refs is not None and len(refs):
                    subj = media_subject(doc_id)
                    for ref in refs:
                        emit(doc_id, "@default", subj, ASSOCIATED_MEDIA,
                             "iri", ref, None, None, None)
            yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    return extract


def extract_quads(assembled: DataFrame, base: str | None = None,
                  contexts: dict[str, dict] | None = None,
                  globalize_bnodes: bool = True,
                  include_media: bool = False,
                  document_loader=None,
                  options_kwargs: dict | None = None,
                  media_subject_fn=None) -> DataFrame:
    """(doc_id, doc_json[, media_refs][, base]) → quad rows + error rows
    (error column set)."""
    fn = make_extract_quads(base, contexts, globalize_bnodes, include_media,
                            document_loader, options_kwargs,
                            media_subject_fn)
    cols = ["doc_id", "doc_json"]
    if include_media and "media_refs" in assembled.columns:
        cols.append("media_refs")
    if "base" in assembled.columns:
        cols.append("base")
    return assembled.select(*cols).mapInArrow(fn, QUAD_SCHEMA)


def docs_to_triples(interleaved: DataFrame, base: str | None = None,
                    contexts: dict[str, dict] | None = None,
                    dedupe: bool = True,
                    include_media: bool = True) -> DataFrame:
    """Full stage: interleaved spans table → triples DataFrame
    (doc_id, graph, subj, pred, obj_kind, obj_value, obj_datatype,
    obj_lang). Errors are filtered out here; use ``extract_quads``
    directly to inspect them. Media-link triples come out of the same
    single pass over the assembled batch (see make_extract_quads)."""
    assembled = assemble_documents(interleaved)
    quads = extract_quads(assembled, base, contexts,
                          include_media=include_media)
    triples = quads.where(F.col("error").isNull()).drop("error")
    if dedupe:
        triples = triples.dropDuplicates(QUAD_COLS)
    return triples
