"""Seeded input generator for the benchmark workloads.

Every table the engine sees is made here from the workload seed alone:
the same seed gives byte-identical inputs. The documents follow the
shape of the repository's ``documents`` test table (sf0.1: 31-word
vocabulary, five languages weighted toward ``en``, 20 sources, 8-100
words of text), replicated and perturbed by the seed.

Corpus documents come in two forms, half each:

* absolute-IRI keys (the form ``sources.interleaved`` synthesizes), and
* compact keys under one shared remote ``@context`` (``CONTEXT_URL``),
  resolved from the pre-loaded ``CONTEXTS`` cache, so the core's
  context processing does real work.

Both forms yield the same triples for the same content. A fixed share
(``MALFORMED_EVERY``: one document in 100) carries a malformed payload
that must come out as an ``error`` row. ``curate_docs`` makes the
blank-node and owl:sameAs-chain input of ``curate_query``.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
N_SOURCES = 20
N_CLASSES = 8
CHAIN = 4        # doc n cites n+1 unless n % CHAIN == CHAIN - 1
SAMEAS_RUN = 5   # entity e sameAs e+1 unless e % SAMEAS_RUN == 4
MALFORMED_EVERY = 100

EX = "http://example.org/"
SCHEMA = "http://schema.org/"
DCT = "http://purl.org/dc/terms/"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
DOC_IRI = EX + "doc/"
MEDIA_REF = "https://media.example/img/"
CONTEXT_URL = "https://context.example/kg.jsonld"
CONTEXTS = {CONTEXT_URL: {"@context": {
    "ex": EX,
    "schema": SCHEMA,
    "text": "schema:text",
    "lang": "schema:inLanguage",
    "source": DCT + "source",
    "nChars": "ex:nChars",
    "cites": {"@id": "ex:cites", "@type": "@id"},
}}}

SPAN_TYPE = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32())]))


@dataclass(frozen=True)
class Doc:
    """One generated input document: ``doc_json`` is what the engine
    parses; ``malformed`` marks the injected bad payloads; ``media``
    documents carry a media span."""
    n: int
    doc_id: str
    doc_json: str
    malformed: bool
    media: bool = True


def _text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(8, 100)))


def _payload(n: int, text: str, lang: str, source: str, n_docs: int,
             compact: bool) -> dict:
    cites = n + 1 if n % CHAIN != CHAIN - 1 and n + 1 < n_docs else None
    if compact:
        doc = {"@context": CONTEXT_URL, "@id": f"ex:doc/{n}",
               "@type": f"ex:class/C{n % N_CLASSES}", "text": text,
               "lang": lang, "source": source, "nChars": len(text)}
        if cites is not None:
            doc["cites"] = f"ex:doc/{cites}"
        return doc
    doc = {"@id": f"{DOC_IRI}{n}", "@type": f"{EX}class/C{n % N_CLASSES}",
           SCHEMA + "text": text, SCHEMA + "inLanguage": lang,
           DCT + "source": source, EX + "nChars": len(text)}
    if cites is not None:
        doc[EX + "cites"] = {"@id": f"{DOC_IRI}{cites}"}
    return doc


def _malform(rng: random.Random, doc: dict) -> str:
    """Three kinds of bad payload, each a per-document error in the
    core: truncated JSON, a non-string @vocab, a non-string @id."""
    kind = rng.randrange(3)
    if kind == 0:
        s = json.dumps(doc)
        return s[:len(s) // 2]
    bad = dict(doc)
    if kind == 1:
        bad["@context"] = {"@vocab": 5}
    else:
        bad["@id"] = 5
    return json.dumps(bad)


def _docs(rng: random.Random, ids: list[int], n_docs: int,
          malformed: bool = True) -> list[Doc]:
    """Documents for ``ids``: exactly half compact and, with
    ``malformed``, exactly one in ``MALFORMED_EVERY`` malformed, both
    chosen by ``rng``."""
    compact = set(rng.sample(ids, len(ids) // 2))
    bad = set(rng.sample(ids, len(ids) // MALFORMED_EVERY)
              if malformed else ())
    out = []
    for n in ids:
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        source = f"src{rng.randrange(N_SOURCES)}"
        doc = _payload(n, _text(rng), lang, source, n_docs, n in compact)
        js = _malform(rng, doc) if n in bad else json.dumps(doc)
        out.append(Doc(n, f"doc-{n}", js, n in bad))
    return out


def corpus(seed: int, n_docs: int) -> list[Doc]:
    """The build corpus: documents 0..n_docs-1."""
    return _docs(random.Random(f"corpus:{seed}"), list(range(n_docs)),
                 n_docs)


def refresh_batch(seed: int, k: int, n_docs: int, n_changed: int,
                  n_deleted: int) -> tuple[list[Doc], list[str]]:
    """Batch ``k`` of the refresh workload: ``n_changed`` existing
    documents with new content (same malformed share) and ``n_deleted``
    other documents to remove."""
    rng = random.Random(f"refresh:{seed}:{k}")
    picked = rng.sample(range(n_docs), n_changed + n_deleted)
    changed = sorted(picked[:n_changed])
    deleted = [f"doc-{n}" for n in sorted(picked[n_changed:])]
    return _docs(rng, changed, n_docs), deleted


def entity_iri(e: int) -> str:
    return f"{EX}e/{e:07d}"


def curate_docs(seed: int, n_docs: int, n_entities: int) -> list[Doc]:
    """Input of ``curate_query``: corpus documents that each nest an
    author and its affiliation without ``@id`` (two blank nodes, one
    component per document), plus owl:sameAs chain entities. Entity
    ``e`` links to ``e+1`` unless ``e % 5 == 4``, so linking maps it
    to ``5 * (e // 5)``. No malformed payloads."""
    rng = random.Random(f"curate:{seed}")
    out = []
    for doc in _docs(rng, list(range(n_docs)), n_docs, malformed=False):
        payload = json.loads(doc.doc_json)
        org = {SCHEMA + "name": f"org{rng.randrange(50)}"}
        payload[SCHEMA + "author"] = {
            SCHEMA + "name": " ".join(rng.choices(VOCAB, k=2)),
            SCHEMA + "affiliation": org}
        out.append(Doc(doc.n, doc.doc_id, json.dumps(payload), False))
    for e in range(n_entities):
        doc = {"@id": entity_iri(e),
               SCHEMA + "name": " ".join(rng.choices(VOCAB, k=3))}
        if e % SAMEAS_RUN != SAMEAS_RUN - 1 and e + 1 < n_entities:
            doc[OWL_SAMEAS] = {"@id": entity_iri(e + 1)}
        out.append(Doc(e, f"ent-{e}", json.dumps(doc), False, media=False))
    return out


def _spans(rng: random.Random, doc: Doc) -> list[dict]:
    """The payload cut into three text spans, a media span after the
    first, all in shuffled array order (assembly sorts by offset)."""
    js = doc.doc_json
    cuts = [0, len(js) // 3, 2 * len(js) // 3, len(js)]
    spans = [{"kind": "text", "text": js[a:b], "media_ref": "", "offset": a}
             for a, b in zip(cuts, cuts[1:])]
    if doc.media:
        spans.append({"kind": "media", "text": "",
                      "media_ref": f"{MEDIA_REF}{doc.n}.jpg",
                      "offset": cuts[1]})
    rng.shuffle(spans)
    return spans


def write_interleaved(docs: list[Doc], out_dir: Path, seed: int,
                      n_files: int = 8) -> Path:
    """Write ``docs`` as the interleaved (doc_id, spans) parquet table,
    split into ``n_files`` files so the scan yields that many tasks."""
    rng = random.Random(f"spans:{seed}")
    out_dir.mkdir(parents=True, exist_ok=True)
    step = -(-len(docs) // n_files)
    for f in range(n_files):
        chunk = docs[f * step:(f + 1) * step]
        table = pa.table({
            "doc_id": pa.array([d.doc_id for d in chunk], pa.string()),
            "spans": pa.array([_spans(rng, d) for d in chunk],
                              SPAN_TYPE)})
        pq.write_table(table, out_dir / f"part-{f:03d}.parquet")
    return out_dir


def write_doc_ids(doc_ids: list[str], out_dir: Path) -> Path:
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.string())}),
                   out_dir / "part-000.parquet")
    return out_dir
