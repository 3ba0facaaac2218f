"""Expected outputs, computed without Spark.

Graph digests come from the pure core (``core.rdf.document_to_quads``)
on the driver; query answers come from DuckDB SQL over the triples the
core expects. Both are order-independent, so they compare with the
engine's output however it was partitioned.
"""

from __future__ import annotations

import hashlib
import json

from jsonld_spark.core import JsonLdOptions
from jsonld_spark.core.rdf import document_to_quads

from gen import (CONTEXTS, DOC_IRI, EX, MEDIA_REF, OWL_SAMEAS, SAMEAS_RUN,
                 SCHEMA, Doc, entity_iri)

TRIPLE_COLS = ("doc_id", "graph", "subj", "pred", "obj_kind", "obj_value",
               "obj_datatype", "obj_lang")
ASSOCIATED_MEDIA = SCHEMA + "associatedMedia"
MASK = (1 << 64) - 1


def row_hash(row: tuple) -> int:
    key = "\x1f".join("\x00" if v is None else str(v) for v in row)
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8)
                          .digest(), "little")


def digest(rows) -> int:
    """Order-independent digest of a set of rows: sum of row hashes."""
    return sum(row_hash(r) for r in rows) & MASK


def options() -> JsonLdOptions:
    """Core options whose loader serves the pre-resolved contexts."""
    def loader(url: str):
        return CONTEXTS[url]
    return JsonLdOptions(document_loader=loader)


def doc_rows(doc: Doc, opts: JsonLdOptions) -> set[tuple]:
    """The triple rows the pipeline must store for ``doc``: its quads,
    plus the media link, which comes from the spans and survives a
    malformed payload."""
    rows = set()
    if not doc.malformed:
        for q in document_to_quads(json.loads(doc.doc_json), opts):
            rows.add((doc.doc_id, q.graph, q.subj, q.pred, q.obj_kind,
                      q.obj_value, q.obj_datatype, q.obj_lang))
    if doc.media:
        rows.add((doc.doc_id, "@default", f"{DOC_IRI}{doc.n}",
                  ASSOCIATED_MEDIA, "iri", f"{MEDIA_REF}{doc.n}.jpg",
                  None, None))
    return rows


class GraphOracle:
    """Per-document row digests of a materialized corpus; answers the
    expected digest after replacing or deleting documents."""

    def __init__(self, docs: list[Doc]):
        self.opts = options()
        self.by_doc = {d.doc_id: self._entry(d) for d in docs}

    def _entry(self, doc: Doc) -> tuple[int, int]:
        rows = doc_rows(doc, self.opts)
        return digest(rows), len(rows)

    def expected(self, changed: list[Doc] = (), deleted: list[str] = ()
                 ) -> tuple[int, int, int]:
        """(digest, rows, new rows of ``changed``) of the corpus after
        the update."""
        entries = dict(self.by_doc)
        new_rows = 0
        for d in changed:
            entries[d.doc_id] = self._entry(d)
            new_rows += entries[d.doc_id][1]
        for doc_id in deleted:
            entries.pop(doc_id, None)
        return (sum(e[0] for e in entries.values()) & MASK,
                sum(e[1] for e in entries.values()), new_rows)


class CuratedOracle:
    """Expected output of the curation step: every document's quads
    (blank nodes namespaced per document), each owl:sameAs entity
    replaced by the first entity of its run, sameAs triples dropped."""

    def __init__(self, docs: list[Doc]):
        opts = options()
        rows = [r for d in docs for r in doc_rows(d, opts)]
        self.n_quads = len(rows)
        self.n_sameas = sum(r[3] == OWL_SAMEAS for r in rows)
        self.rows = [(doc_id, g, _curated(doc_id, s), p, kind,
                      _curated(doc_id, o) if kind != "literal" else o, dt,
                      lang)
                     for doc_id, g, s, p, kind, o, dt, lang in rows
                     if p != OWL_SAMEAS]

    def query_answers(self, n_classes: int) -> dict[str, list[tuple]]:
        import pyarrow as pa
        cols = list(zip(*self.rows))
        graph = pa.table({c: pa.array(v, pa.string())
                          for c, v in zip(TRIPLE_COLS, cols)})
        return query_answers(graph, n_classes)


def _curated(doc_id: str, term: str) -> str:
    if term.startswith("_:"):
        return f"_:{doc_id}-{term[2:]}"
    if term.startswith(EX + "e/"):
        e = int(term[len(EX) + 2:])
        return entity_iri(SAMEAS_RUN * (e // SAMEAS_RUN))
    return term


def arrow_rows(table, cols) -> list[tuple]:
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


# ---------------------------------------------------------------------------
# query answers in DuckDB SQL over the expected triples
# ---------------------------------------------------------------------------

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
CITES = EX + "cites"
RELATED = EX + "related"
DOCUMENT = EX + "Document"


RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SUB_CLASS = RDFS + "subClassOf"
SUB_PROP = RDFS + "subPropertyOf"


def schema_rows(n_classes: int) -> list[tuple[str, str, str]]:
    """The RDFS ontology the closure query applies: classes C_i ⊑ S_{i%2}
    ⊑ Top, cites ⊑ related, cites has domain and range Document."""
    rows = [(f"{EX}class/C{i}", SUB_CLASS, f"{EX}class/S{i % 2}")
            for i in range(n_classes)]
    rows += [(f"{EX}class/S{j}", SUB_CLASS, f"{EX}class/Top")
             for j in range(2)]
    rows += [(CITES, SUB_PROP, RELATED), (CITES, RDFS + "domain", DOCUMENT),
             (CITES, RDFS + "range", DOCUMENT)]
    return rows


def _super_classes(n_classes: int) -> list[tuple[str, str]]:
    """(class, proper superclass) pairs of the closed class hierarchy."""
    out = []
    for i in range(n_classes):
        c, s = f"{EX}class/C{i}", f"{EX}class/S{i % 2}"
        out += [(c, s), (c, f"{EX}class/Top")]
    out += [(f"{EX}class/S{j}", f"{EX}class/Top") for j in range(2)]
    return out


QUERY_SQL = {
    "sparql_optional_group": f"""
        SELECT l.obj_value AS lang, count(DISTINCT l.subj) AS n_docs,
               count(DISTINCT c.obj_value) AS n_cited
        FROM g l JOIN g m ON m.subj = l.subj
             AND m.pred = '{ASSOCIATED_MEDIA}'
        LEFT JOIN g c ON c.subj = l.subj AND c.pred = '{CITES}'
        WHERE l.pred = '{SCHEMA}inLanguage'
        GROUP BY l.obj_value""",
    "bgp_star": f"""
        SELECT m.subj AS d, m.obj_value AS media, l.obj_value AS lang,
               s.obj_value AS src
        FROM g m JOIN g l ON l.subj = m.subj
             AND l.pred = '{SCHEMA}inLanguage'
        JOIN g s ON s.subj = m.subj
             AND s.pred = 'http://purl.org/dc/terms/source'
        WHERE m.pred = '{ASSOCIATED_MEDIA}'""",
    "sparql_not_exists": f"""
        SELECT DISTINCT t.subj AS d FROM g t
        WHERE t.pred = '{RDF_TYPE}' AND t.obj_value = '{EX}class/C0'
          AND NOT EXISTS (SELECT 1 FROM g c WHERE c.pred = '{CITES}'
                          AND c.obj_value = t.subj)""",
    "kg_path": f"""
        WITH RECURSIVE e AS (
            SELECT DISTINCT subj AS src, obj_value AS dst FROM g
            WHERE pred = '{CITES}'),
        p(src, dst) AS (SELECT src, dst FROM e
                        UNION SELECT p.src, e.dst FROM p JOIN e
                                     ON p.dst = e.src)
        SELECT DISTINCT src, dst FROM p""",
}


def _rdfs_sql() -> str:
    """Entailed triples of rdfs2/3/7/9 under ``schema_rows``, minus the
    triples already present, plus the closed schema hierarchy itself."""
    return f"""
        WITH derived AS (
            SELECT subj, '{RELATED}' AS pred, obj_value AS obj FROM g
            WHERE pred = '{CITES}'
            UNION SELECT subj, '{RDF_TYPE}', '{DOCUMENT}' FROM g
            WHERE pred = '{CITES}'
            UNION SELECT obj_value, '{RDF_TYPE}', '{DOCUMENT}' FROM g
            WHERE pred = '{CITES}' AND obj_kind <> 'literal'
            UNION SELECT t.subj, '{RDF_TYPE}', sc.sup FROM g t
            JOIN sc ON sc.cls = t.obj_value WHERE t.pred = '{RDF_TYPE}')
        SELECT DISTINCT d.subj, d.pred, d.obj FROM derived d
        WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.subj = d.subj
                          AND g.pred = d.pred AND g.obj_value = d.obj)
        UNION SELECT cls, '{SUB_CLASS}', sup FROM sc
        UNION SELECT '{CITES}', '{SUB_PROP}', '{RELATED}'"""


def query_answers(graph, n_classes: int) -> dict[str, list[tuple]]:
    """Sorted expected rows of every query in the mix over ``graph``, an
    Arrow table of triple rows."""
    import duckdb
    con = duckdb.connect()
    try:
        con.register("g", graph)
        con.execute("CREATE TABLE sc (cls VARCHAR, sup VARCHAR)")
        con.executemany("INSERT INTO sc VALUES (?, ?)",
                        _super_classes(n_classes))
        sql = dict(QUERY_SQL, rdfs_closure=_rdfs_sql())
        return {name: sorted(normalize(r) for r in con.execute(q).fetchall())
                for name, q in sql.items()}
    finally:
        con.close()


def normalize(row) -> tuple:
    return tuple(None if v is None else str(v) for v in row)
