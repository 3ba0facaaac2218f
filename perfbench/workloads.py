"""The workloads: inputs, set-up, one timed iteration, the output
check, and the traced-only layer probes.

A workload's ``run`` is one closed-loop iteration, timed from its input
to a complete result (committed manifests, or rows on the driver). It
calls only the package's public functions, the way
``scripts/run_pipeline.py`` and a query client call them.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from jsonld_spark.core import expand_document
from jsonld_spark.core.rdf import expanded_to_quads
from jsonld_spark.operators.canonicalize import (bnode_components,
                                                 canonicalize_triples)
from jsonld_spark.operators.kg import bgp_match, kg_path, rdfs_closure
from jsonld_spark.operators.linking import connected_components, link_triples
from jsonld_spark.operators.materialize import (materialize_graph, read_graph,
                                                upsert_documents)
from jsonld_spark.operators.pipeline import docs_to_triples, extract_quads
from jsonld_spark.operators.sparql import sparql_query
from jsonld_spark.sources.interleaved import assemble_documents

import gen
import oracle
from probe import OFF, plan_counts

N_DOCS = 10_000          # build_refresh corpus
N_BUCKETS = 16
REFRESH_CHANGED = 100    # ~1 % of the corpus per batch
REFRESH_DELETED = 10
REFRESH_BATCHES = 4
CURATE_DOCS = 2_000      # curate_query documents, 2 blank nodes each
CURATE_ENTITIES = 1_000  # owl:sameAs chain entities, runs of 5
CORE_SAMPLE = 500        # documents the driver-side core probe converts


@dataclass
class Outcome:
    """What one iteration produced and whether its output checked."""
    triples: int
    ok: bool
    ops_ms: list[float] = field(default_factory=list)
    docs: int = 0
    error_docs: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    digests: dict[str, str] = field(default_factory=dict)
    extracted: int = 0  # triples out of the "pipeline.extract" span


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_size(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``, Spark's checksum files included."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            n_files += 1
    return n_bytes, n_files


def _extract(spark, input_dir: Path, tr, span: str = "pipeline.extract"):
    """Scan → assemble → extract → error split → dedup, as
    ``run_pipeline.py`` does it. Returns (persisted quads, deduped
    triples, error rows)."""
    assembled = assemble_documents(spark.read.parquet(str(input_dir)))
    quads = extract_quads(assembled, include_media=True,
                          contexts=gen.CONTEXTS).persist()
    with tr.span(span):
        n_err = quads.where(F.col("error").isNotNull()).count()
    triples = (quads.where(F.col("error").isNull()).drop("error")
               .dropDuplicates())
    return quads, triples, n_err


def _graph_digest(spark, graph_dir: Path) -> tuple[int, int]:
    table = read_graph(spark, str(graph_dir)) \
        .select(*oracle.TRIPLE_COLS).toArrow()
    rows = oracle.arrow_rows(table, oracle.TRIPLE_COLS)
    return oracle.digest(rows), len(rows)


def _core_probe(docs: list[gen.Doc], tr) -> dict[str, float]:
    """Single-process kernel throughput on the driver over a sample:
    json.loads, then ``expand_document``, then the quad conversion."""
    opts = oracle.options()
    sample = [d.doc_json for d in docs if not d.malformed][:CORE_SAMPLE]
    with tr.span("core.parse"):
        t0 = time.perf_counter()
        parsed = [json.loads(s) for s in sample]
        t1 = time.perf_counter()
    with tr.span("core.expand"):
        expanded = [expand_document(d, opts) for d in parsed]
        t2 = time.perf_counter()
    with tr.span("core.to_rdf"):
        n_quads = sum(len(expanded_to_quads(e)) for e in expanded)
        t3 = time.perf_counter()
    return {"core.parse_s": t1 - t0, "core.expand_s": t2 - t1,
            "core.to_rdf_s": t3 - t2,
            "core.docs_per_s": len(sample) / (t3 - t0),
            "core.quads_per_s": n_quads / (t3 - t0)}


class Workload:
    """Base: subclasses fill in the hooks. ``work`` is this run's
    scratch directory; everything the workload writes goes below it."""
    name = ""

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.k = 0  # iteration counter, picks per-iteration inputs

    def generate(self) -> None:
        """Write the seeded inputs (set-up)."""

    def prepare(self, spark) -> None:
        """Engine work the workload needs before its loop (set-up)."""

    def make_oracle(self) -> None:
        """Expected outputs, computed once after set-up (untimed)."""

    def run(self, spark, tr):
        """One timed iteration; returns what ``check`` inspects."""
        raise NotImplementedError

    def check(self, spark, out) -> Outcome:
        """Untimed output check of one iteration."""
        raise NotImplementedError

    def probes(self, spark, tr) -> dict[str, float]:
        """Traced runs only: layer measurements outside the iteration."""
        return {}


class BuildRefresh(Workload):
    """The flagship job, then one incremental refresh of its result:
    interleaved documents → materialized graph (``materialize_graph``,
    fresh directory), then a 1 % batch of changed documents plus a few
    deletions through ``upsert_documents``, as ``run_pipeline.py`` runs
    its build and ``--upsert`` modes."""
    name = "build_refresh"

    def generate(self) -> None:
        self.docs = gen.corpus(self.seed, N_DOCS)
        self.input_dir = gen.write_interleaved(
            self.docs, self.work / "build_input", self.seed)
        self.batches = []
        for k in range(REFRESH_BATCHES):
            changed, deleted = gen.refresh_batch(
                self.seed, k, N_DOCS, REFRESH_CHANGED, REFRESH_DELETED)
            bdir = self.work / f"batch{k}"
            self.batches.append((
                changed, deleted,
                gen.write_interleaved(changed, bdir / "docs", self.seed + k,
                                      n_files=4),
                gen.write_doc_ids(deleted, bdir / "deleted")))
        self.graph_dir = self.work / "graph"

    def make_oracle(self) -> None:
        base = oracle.GraphOracle(self.docs)
        self.expected = [base.expected(c, d) for c, d, _, _ in self.batches]
        self.n_bad = sum(d.malformed for d in self.docs)

    def run(self, spark, tr):
        k = self.k % REFRESH_BATCHES
        _, _, docs_dir, deleted_dir = self.batches[k]
        quads, triples, n_err = _extract(spark, self.input_dir, tr)
        with tr.span("materialize.write"):
            built = materialize_graph(triples, str(self.graph_dir),
                                      n_buckets=N_BUCKETS,
                                      run_id=f"b{self.k}", resume=False)
        quads.unpersist()
        quads, triples, n_err_batch = _extract(spark, docs_dir, tr,
                                               "pipeline.extract_batch")
        with tr.span("materialize.upsert"):
            upserted = upsert_documents(
                triples, str(self.graph_dir),
                deleted_doc_ids=spark.read.parquet(str(deleted_dir)),
                run_id=f"u{self.k}")
        quads.unpersist()
        self.k += 1
        return k, built, upserted, n_err, n_err_batch

    def check(self, spark, out) -> Outcome:
        k, built, upserted, n_err, n_err_batch = out
        changed = self.batches[k][0]
        dig, n_rows, new_rows = self.expected[k]
        got = _graph_digest(spark, self.graph_dir)
        n_bytes, n_files = _tree_size(self.graph_dir)
        ok = (got == (dig, n_rows) and n_err == self.n_bad
              and n_err_batch == sum(d.malformed for d in changed))
        # triples the iteration produces: the build's rows and the batch's
        # changed rows; the rows an upsert rewrites besides those are
        # write amplification, reported per layer only
        return Outcome(
            built["rows"] + new_rows, ok, extracted=built["rows"],
            digests={f"graph_after_batch{k}": f"{got[0]:016x}"},
            docs=len(self.docs) + len(changed),
            error_docs=n_err + n_err_batch,
            layer={"materialize.rows_written": built["rows"],
                   "materialize.bytes_written": n_bytes,
                   "materialize.files_written": n_files,
                   "materialize.bytes_per_triple": n_bytes / n_rows,
                   "materialize.buckets_rewritten": upserted["affected"],
                   "materialize.rows_rewritten": upserted["rows"],
                   "materialize.changed_rows": new_rows,
                   "materialize.write_amp": upserted["rows"] / new_rows})

    def probes(self, spark, tr) -> dict[str, float]:
        out = _core_probe(self.docs, tr)
        with tr.span("sources.assemble"):
            t0 = time.perf_counter()
            _noop(assemble_documents(spark.read.parquet(str(self.input_dir))))
            out["sources.assemble_s"] = time.perf_counter() - t0
        quads, triples, _ = _extract(spark, self.input_dir, OFF)
        with tr.span("pipeline.dedup"):
            t0 = time.perf_counter()
            _noop(triples)
            out["pipeline.dedup_s"] = time.perf_counter() - t0
        quads.unpersist()
        with tr.span("materialize.read_graph"):
            t0 = time.perf_counter()
            _noop(read_graph(spark, str(self.graph_dir)))
            out["materialize.read_graph_s"] = time.perf_counter() - t0
        return out


PREFIXES = f"""PREFIX schema: <{gen.SCHEMA}>
PREFIX ex: <{gen.EX}>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
"""
SPARQL = {
    "sparql_optional_group": PREFIXES + """
        SELECT ?lang (COUNT(DISTINCT ?d) AS ?n_docs)
               (COUNT(DISTINCT ?c) AS ?n_cited)
        WHERE { ?d schema:inLanguage ?lang ; schema:associatedMedia ?m .
                OPTIONAL { ?d ex:cites ?c } }
        GROUP BY ?lang""",
    "sparql_not_exists": PREFIXES + """
        SELECT ?d WHERE { ?d rdf:type <http://example.org/class/C0> .
                          FILTER NOT EXISTS { ?x ex:cites ?d } }""",
}
QUERY_KINDS = ("sparql_optional_group", "bgp_star", "sparql_not_exists",
               "rdfs_closure", "kg_path")
# rdfs_closure costs ~12 s of a run cold and warm, the most of any
# query; to keep a run near a minute it runs in the traced probe pass
# only, and the timed mix is the other four
TIMED_KINDS = tuple(k for k in QUERY_KINDS if k != "rdfs_closure")


class CurateQuery(Workload):
    """Curate, then query: documents with nested blank nodes and
    owl:sameAs chain entities → ``docs_to_triples`` →
    ``canonicalize_triples`` → ``connected_components`` on the
    distributed path (``small_graph_edges=0``, standing in for graphs
    above the driver cap) → ``link_triples``; then a fixed query mix
    over the curated triples: SPARQL text (OPTIONAL + GROUP BY + COUNT
    DISTINCT, FILTER NOT EXISTS), a BGP star and a ``kg_path`` property
    path. ``rdfs_closure`` runs in the probe pass."""
    name = "curate_query"

    def generate(self) -> None:
        self.docs = gen.curate_docs(self.seed, CURATE_DOCS, CURATE_ENTITIES)
        self.input_dir = gen.write_interleaved(
            self.docs, self.work / "curate_input", self.seed)

    def prepare(self, spark) -> None:
        self.schema = spark.createDataFrame(
            oracle.schema_rows(gen.N_CLASSES),
            "subj string, pred string, obj_value string")

    def make_oracle(self) -> None:
        cur = oracle.CuratedOracle(self.docs)
        self.n_quads, self.n_sameas = cur.n_quads, cur.n_sameas
        self.expected = cur.query_answers(gen.N_CLASSES)

    def _kg(self, kind: str, g):
        if kind == "bgp_star":
            return bgp_match(g, [
                ("?d", gen.SCHEMA + "associatedMedia", "?media"),
                ("?d", gen.SCHEMA + "inLanguage", "?lang"),
                ("?d", gen.DCT + "source", "?src")]
            ).select("d", "media", "lang", "src")
        if kind == "rdfs_closure":
            return rdfs_closure(g, self.schema).select("subj", "pred", "obj")
        return kg_path(g, f"<{oracle.CITES}>+").select("src", "dst")

    def run(self, spark, tr):
        with tr.span("pipeline.extract"):
            triples = docs_to_triples(
                spark.read.parquet(str(self.input_dir)),
                contexts=gen.CONTEXTS).persist()
            n_in = triples.count()
        with tr.span("canonicalize.canonicalize"):
            canon = canonicalize_triples(triples).persist()
            n_canon = canon.count()
        edges = (canon.where(F.col("pred") == gen.OWL_SAMEAS)
                 .where(F.col("obj_kind") == "iri")
                 .select(F.col("subj").alias("src"),
                         F.col("obj_value").alias("dst")))
        with tr.span("linking.cc"):
            comps = connected_components(edges, small_graph_edges=0).persist()
            comps.count()
        with tr.span("linking.link"):
            g = link_triples(canon, comps) \
                .where(F.col("pred") != gen.OWL_SAMEAS).persist()
            g.count()
        results, ops_ms, plans = {}, [], {}
        for kind in TIMED_KINDS:
            t0 = time.perf_counter()
            if kind in SPARQL:
                with tr.span("sparql.plan"):
                    df = sparql_query(g, SPARQL[kind])
                with tr.span(f"sparql.exec.{kind}"):
                    rows = df.collect()
            else:
                with tr.span(f"kg.exec.{kind}"):
                    df = self._kg(kind, g)
                    rows = df.collect()
            ops_ms.append((time.perf_counter() - t0) * 1e3)
            results[kind] = rows
            if tr.on:
                plans[kind] = plan_counts(df)
        for df in (triples, canon, comps):
            df.unpersist()
        self.k += 1
        return n_in, n_canon, g, results, ops_ms, plans

    def check(self, spark, out) -> Outcome:
        n_in, n_canon, g, results, ops_ms, plans = out
        table = g.select(*oracle.TRIPLE_COLS).toArrow()
        g.unpersist()
        rows = oracle.arrow_rows(table, oracle.TRIPLE_COLS)
        labels_ok = all(
            not v.startswith("_:") or v.startswith("_:c14n")
            for r in rows for v in (r[1], r[2])
        ) and all(r[5].startswith("_:c14n") for r in rows if r[4] == "bnode")
        linked_ok = all(
            r[2] == gen.entity_iri(5 * (int(r[0][4:]) // 5))
            for r in rows if r[0].startswith("ent-"))
        answers = {k: sorted(oracle.normalize(r) for r in results[k])
                   for k in TIMED_KINDS}
        ok = (labels_ok and linked_ok and n_in == n_canon == self.n_quads
              and len(rows) == self.n_quads - self.n_sameas
              and all(answers[k] == self.expected[k] for k in TIMED_KINDS))
        layer = {}
        for kind, (n_exchange, n_python) in plans.items():
            layer[f"kg.exchanges.{kind}"] = n_exchange
            layer[f"kg.python_eval_nodes.{kind}"] = n_python
        digests = {k: f"{oracle.digest(v):016x}" for k, v in answers.items()}
        return Outcome(n_in, ok, ops_ms=ops_ms, layer=layer,
                       digests=digests, extracted=n_in)

    def probes(self, spark, tr) -> dict[str, float]:
        out = _core_probe(self.docs, tr)
        triples = docs_to_triples(spark.read.parquet(str(self.input_dir)),
                                  contexts=gen.CONTEXTS).persist()
        bquads = triples.where(F.size(F.filter(
            F.array("graph", "subj", "obj_value"),
            lambda v: v.startswith("_:"))) > 0).persist()
        out["canonicalize.bnode_quads"] = bquads.count()
        out["canonicalize.components"] = (
            bnode_components(bquads).select("component").distinct().count())
        bquads.unpersist()
        # over the uncurated triples: entities and blank nodes carry no
        # rdf:type or ex:cites, so the entailment equals the curated one
        with tr.span("kg.exec.rdfs_closure"):
            df = self._kg("rdfs_closure", triples)
            rows = df.collect()
        if sorted(oracle.normalize(r) for r in rows) \
                != self.expected["rdfs_closure"]:
            raise RuntimeError("rdfs_closure differs from the DuckDB answer")
        (out["kg.exchanges.rdfs_closure"],
         out["kg.python_eval_nodes.rdfs_closure"]) = plan_counts(df)
        triples.unpersist()
        return out


WORKLOADS = {w.name: w for w in (BuildRefresh, CurateQuery)}
