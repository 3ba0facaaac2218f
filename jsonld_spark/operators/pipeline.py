"""Triple-extraction pipeline: interleaved docs → columnar quads DataFrame.

Stage layout (SURVEY.md §3.2 Spark trace):

    interleaved(doc_id, spans)
      → assemble (pure column ops)
      → mapInArrow(expand + node-map + toRDF per document,    # Arrow batches
                   plus the media-ref triples, in the same pass)
      → dropDuplicates                                        # global dedup

Per-document algorithms run inside Arrow batches through
``kernels.map_rows`` (vectorization is across documents; a failing
document becomes one ``error`` row instead of failing the job — at
10^12 docs a single malformed payload must not kill the stage).
Blank-node labels are globally uniquified by prefixing a doc-content
hash, so output labels are a pure function of (doc content, doc_id),
never of task scheduling (SURVEY.md §4 determinism discipline).
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.context import JsonLdOptions
from ..core.rdf import document_to_quads
from ..sources.interleaved import (ASSOCIATED_MEDIA, DOC_IRI_PREFIX,
                                   assemble_documents)
from .kernels import QUAD_COLS, QUAD_SCHEMA, error_row, map_rows


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
    """Build the per-document row function of ``extract_quads``:
    ``extract(doc_id, doc_json, media_refs, base)`` → quad rows.
    ``contexts`` is the pre-resolved remote-context cache (broadcast by
    value into the closure — executors never do HTTP; reference role:
    JarCacheStorage). A row ``base`` overrides the global ``base`` per
    document (documents carry their own URI). ``document_loader``/
    ``options_kwargs`` override the cache loader / extra JsonLdOptions —
    conformance-harness hooks.

    ``include_media=True`` emits the media-linking triples from the same
    pass (batch carries a ``media_refs`` column): a JVM-side explode of
    the assembled lineage would re-evaluate the whole interpreted
    span-assembly expression chain per output row inside Generate —
    measured ~40× slower than emitting the rows here. Media rows derive
    from the spans table, not the JSON payload, so they are emitted even
    when the payload fails to parse (the error row coexists with them):
    the function isolates its own payload error instead of leaving it
    to the runner."""
    ctx_cache = contexts or {}
    extra_opts = options_kwargs or {}
    media_subject = media_subject_fn or default_media_subject

    def cache_loader(url: str):
        if url in ctx_cache:
            return ctx_cache[url]
        raise IOError(f"remote context not pre-resolved: {url}")

    loader = document_loader or cache_loader
    opts_by_base = {None: JsonLdOptions(base=base, document_loader=loader,
                                        **extra_opts)}

    def extract(doc_id, doc_json, refs, row_base):
        try:
            doc = json.loads(doc_json)
            doc_opts = opts_by_base.get(row_base)
            if doc_opts is None:
                doc_opts = opts_by_base[row_base] = JsonLdOptions(
                    base=row_base, document_loader=loader, **extra_opts)
            quads = document_to_quads(doc, doc_opts)
            tag = _doc_tag(doc_id, doc_json) if globalize_bnodes else None
            rows = []
            for q in quads:
                g, s, o = q.graph, q.subj, q.obj_value
                if tag is not None:
                    g = _prefix_bnode(g, tag)
                    s = _prefix_bnode(s, tag)
                    if q.obj_kind == "bnode":
                        o = _prefix_bnode(o, tag)
                rows.append((doc_id, g, s, q.pred, q.obj_kind, o,
                             q.obj_datatype, q.obj_lang, None))
        except Exception as e:  # noqa: BLE001 - per-doc isolation
            rows = [error_row(doc_id, QUAD_SCHEMA, e)]
        # media links come from the spans table, not the payload
        # — emit them even for docs whose payload failed above
        if include_media and refs:
            subj = media_subject(doc_id)
            rows.extend((doc_id, "@default", subj, ASSOCIATED_MEDIA, "iri",
                         ref, None, None, None) for ref in refs)
        return rows

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
    if not include_media:
        assembled = assembled.drop("media_refs")
    return map_rows(assembled, fn, QUAD_SCHEMA,
                    ["doc_id", "doc_json", "media_refs", "base"])


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
