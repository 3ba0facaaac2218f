"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()[name]`` runs on (spark, sf_dir) and must match
``oracle_sql()[name]`` executed by DuckDB on the same parquet tables.
Column names and types are aligned on both sides (aggregates cast
through exact DECIMAL then to DOUBLE so partial-agg summation order
can't perturb the hash).
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"

XSD = "http://www.w3.org/2001/XMLSchema#"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # full-scan compute tables arrive as one small file = one split;
        # spread so per-row-heavy operators use all cores. Relational
        # tables stay unwrapped — a repartition above the scan blocks
        # filter/column pushdown (asserted in tests/test_plans.py).
        from jsonld_spark.session import spread_partitions
        df = spread_partitions(df)
    return df


def _doc_triples3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subj, pred, obj_value) doc-triples projection — the shared input
    shape of the BGP/SPARQL query rows. Operators that read it in
    several plan branches materialize it themselves
    (``jsonld_spark.session.reuse``)."""
    return q_jsonld_doc_triples(spark, sf_dir) \
        .select("subj", "pred", "obj_value")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved text+media docs → JSON-LD expansion → RDF
    triples DataFrame (SURVEY.md §3.2)."""
    return q_jsonld_doc_triples(spark, SF_SMALL)


# ---------------------------------------------------------------------------
# JSON-LD pipeline queries
# ---------------------------------------------------------------------------

def q_jsonld_doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.pipeline import docs_to_triples
    from jsonld_spark.sources.interleaved import interleaved_from_documents
    interleaved = interleaved_from_documents(spark, sf_dir)
    return docs_to_triples(interleaved).select(
        "doc_id", "graph", "subj", "pred", "obj_kind", "obj_value",
        "obj_datatype", "obj_lang")


def q_streaming_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME triple extraction through Structured Streaming: land the
    interleaved docs as files, run the availableNow ingest stream
    (checkpointed file sink, exactly-once), read the landed table back.
    Oracle: identical SQL to ``jsonld_doc_triples`` — stream must equal
    batch must equal the independent DuckDB derivation."""
    import os
    import tempfile

    from jsonld_spark.sources.interleaved import interleaved_from_documents
    from jsonld_spark.streaming.ingest import start_triple_ingest
    tmp = tempfile.mkdtemp(prefix="jsonld_stream_q_")
    input_dir = os.path.join(tmp, "in")
    out_dir = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    interleaved_from_documents(spark, sf_dir).write.parquet(input_dir)
    q = start_triple_ingest(spark, input_dir, out_dir, ckpt)
    if not q.awaitTermination(600):
        # timeout returns False (no raise): reading the sink now would
        # silently return a partial table and leave the stream running
        q.stop()
        raise TimeoutError("availableNow ingest stream did not finish "
                           "within 600s; sink left incomplete")
    return spark.read.parquet(out_dir).select(
        "doc_id", "graph", "subj", "pred", "obj_kind", "obj_value",
        "obj_datatype", "obj_lang")


def q_nquads_media_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media triples serialized to N-Quads lines (vectorized serializer),
    then length-checked — exercises the serializer distributed path."""
    from jsonld_spark.functions.nquads_udf import triples_to_nquads
    from jsonld_spark.operators.pipeline import docs_to_triples
    from jsonld_spark.sources.interleaved import interleaved_from_documents
    triples = docs_to_triples(interleaved_from_documents(spark, sf_dir))
    media = triples.where(F.col("pred") == "http://schema.org/associatedMedia")
    return triples_to_nquads(media).select("doc_id", "nq")


def q_nquads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize ALL doc triples to N-Quads and parse them back —
    round-trip must reproduce the quad columns exactly."""
    from jsonld_spark.functions.nquads_udf import (nquads_lines_to_triples,
                                                   triples_to_nquads)
    from jsonld_spark.operators.pipeline import docs_to_triples
    from jsonld_spark.sources.interleaved import interleaved_from_documents
    triples = docs_to_triples(interleaved_from_documents(spark, sf_dir))
    lines = triples_to_nquads(triples)
    parsed = nquads_lines_to_triples(lines)
    return parsed.select("graph", "subj", "pred", "obj_kind", "obj_value",
                         "obj_datatype", "obj_lang")


def q_canonicalize_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed blank-node canonicalization: documents rendered as
    anonymous JSON-LD (no @id → one bnode per doc) → triples →
    c14n labels assigned by component canonical-form hash order.
    The oracle reproduces the labeling in SQL: rank docs by
    sha256(sorted canonical lines with the local _:c14n0 label)."""
    from jsonld_spark.operators.canonicalize import canonicalize_triples
    from jsonld_spark.operators.pipeline import docs_to_triples
    from jsonld_spark.sources.interleaved import (interleave_spans,
                                                  jsonld_payload_from_documents)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = jsonld_payload_from_documents(docs, anonymous=True)
    triples = docs_to_triples(interleave_spans(payloads),
                              include_media=False)
    return canonicalize_triples(triples).select(
        "graph", "subj", "pred", "obj_kind", "obj_value", "obj_datatype",
        "obj_lang")


_COMPACT_CTX = {
    "text": "http://schema.org/text",
    "lang": "http://schema.org/inLanguage",
    "source": "http://purl.org/dc/terms/source",
    "nChars": "http://example.org/nChars",
}


def q_compact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output stage T10: expand + compact per document with a broadcast
    context; canonical-JSON output column."""
    from jsonld_spark.operators.outputs import compact_docs
    from jsonld_spark.sources.interleaved import (assemble_documents,
                                                  interleaved_from_documents)
    assembled = assemble_documents(interleaved_from_documents(spark, sf_dir))
    return compact_docs(assembled, _COMPACT_CTX).select("doc_id", "out_json")


def q_flatten_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output stage T7 (flatten, JsonLdProcessor.java:173-255): expand →
    node map → sorted flat nodes, compacted with a broadcast context;
    canonical-JSON output column."""
    from jsonld_spark.operators.outputs import flatten_docs
    from jsonld_spark.sources.interleaved import (assemble_documents,
                                                  interleaved_from_documents)
    assembled = assemble_documents(interleaved_from_documents(spark, sf_dir))
    return flatten_docs(assembled, _COMPACT_CTX).select("doc_id", "out_json")


_FRAME_CTX = dict(_COMPACT_CTX, rating="http://example.org/rating")
_DOC_FRAME = {"@context": _FRAME_CTX, "text": {},
              "rating": {"@default": "unrated"}}


def q_frame_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output stage T13 (framing, JsonLdProcessor.java:294-345): match
    nodes carrying a text property, fill the absent rating property from
    the frame's @default; canonical-JSON output column."""
    from jsonld_spark.operators.outputs import frame_docs
    from jsonld_spark.sources.interleaved import (assemble_documents,
                                                  interleaved_from_documents)
    assembled = assemble_documents(interleaved_from_documents(spark, sf_dir))
    return frame_docs(assembled, _DOC_FRAME).select("doc_id", "out_json")


_HETERO_CTX_B = {
    "txt": "http://schema.org/text",
    "language": "http://schema.org/inLanguage",
    "src": "http://purl.org/dc/terms/source",
    "len": "http://example.org/nChars",
}


def q_hetero_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous corpus: even docs compact against context A, odd
    docs against context B — per-document context COLUMN, one distributed
    pass (operators/outputs.jsonld_transform_docs). At 10^12 docs this is
    how mixed-vocabulary corpora transform without one job per config."""
    import json as _json

    from jsonld_spark.operators.outputs import jsonld_transform_docs
    from jsonld_spark.sources.interleaved import (assemble_documents,
                                                  interleaved_from_documents)
    assembled = assemble_documents(interleaved_from_documents(spark, sf_dir))
    n = F.regexp_extract("doc_id", r"(\d+)", 1).cast("long")
    rows = assembled.select(
        "doc_id", "doc_json",
        F.when(n % 2 == 0, F.lit(_json.dumps(_COMPACT_CTX, sort_keys=True)))
         .otherwise(F.lit(_json.dumps(_HETERO_CTX_B, sort_keys=True)))
         .alias("aux_json"))
    return jsonld_transform_docs(rows, "compact").select("doc_id",
                                                         "out_json")


def q_fromrdf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output stage T9 (fromRDF): the triples DataFrame reassembled into
    expanded JSON-LD per document (groupBy doc, local list/graph
    reconstruction)."""
    from jsonld_spark.operators.outputs import jsonld_from_triples
    triples = q_jsonld_doc_triples(spark, sf_dir)
    return jsonld_from_triples(triples).select("doc_id", "out_json")


# ---------------------------------------------------------------------------
# training-data operators over `documents`
# ---------------------------------------------------------------------------

def q_error_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document error capture: malformed JSON-LD (empty term in
    @context, injected for every 10th doc) lands in the error column as
    a typed JsonLdError — the job never fails (at 10^12 docs a poison
    document must not kill the stage)."""
    from jsonld_spark.operators.pipeline import extract_quads
    docs = _read(spark, sf_dir, "documents")
    payload = F.when(
        F.col("doc_id") % 10 == 0,
        F.lit('{"@context": {"": "http://x/"}, "x": 1}')
    ).otherwise(F.concat(
        F.lit('{"@id": "http://example.org/doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "http://schema.org/name": "d"}')))
    assembled = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
         .alias("doc_id"),
        payload.alias("doc_json"))
    quads = extract_quads(assembled)
    return quads.select(
        "doc_id",
        F.coalesce(F.split("error", ":").getItem(0), F.lit("ok"))
         .alias("status"))


def q_subject_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase subject rollup over the doc triples (salted
    partial agg for hub subjects, final merge per subject)."""
    from jsonld_spark.operators.materialize import subject_stats
    triples = q_jsonld_doc_triples(spark, sf_dir)
    stats = subject_stats(triples, heavy_threshold=100, sample_fraction=1.0,
                          n_salts=8)
    return stats.select(
        "subj", F.col("n_triples").cast("long").alias("n_triples"),
        F.concat_ws("|", "preds").alias("preds"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.dedup import exact_dedup
    return exact_dedup(_read(spark, sf_dir, "documents")) \
        .select("text_hash", F.col("keep_id").cast("long").alias("keep_id"),
                F.col("n_dupes").cast("long").alias("n_dupes"))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (md5 hash variant so the exact
    banding is reproducible in the DuckDB oracle)."""
    from jsonld_spark.operators.dedup import minhash_candidate_pairs
    return minhash_candidate_pairs(
        _read(spark, sf_dir, "documents"), shingle_len=5, num_hashes=16,
        bands=4, hash_fn="md5") \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"))


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree over the extracted KG (skew-safe salted
    two-phase counts; literals never count as nodes)."""
    from jsonld_spark.operators.graphstats import node_degrees
    return node_degrees(q_jsonld_doc_triples(spark, sf_dir)) \
        .select("node",
                F.col("out_degree").cast("long").alias("out_degree"),
                F.col("in_degree").cast("long").alias("in_degree"))


def q_predicate_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-shape summary: triples + distinct subjects per predicate
    (distinct runs on the well-spread (pred, subj) pair, never funneling
    a popular predicate through one reducer)."""
    from jsonld_spark.operators.graphstats import predicate_histogram
    return predicate_histogram(q_jsonld_doc_triples(spark, sf_dir)) \
        .select("pred",
                F.col("n_triples").cast("long").alias("n_triples"),
                F.col("n_subjects").cast("long").alias("n_subjects"))


def q_top_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k highest-degree nodes, deterministic tie-break by node id."""
    from jsonld_spark.operators.graphstats import top_hubs
    return top_hubs(q_jsonld_doc_triples(spark, sf_dir), k=10) \
        .select("node",
                F.col("out_degree").cast("long").alias("out_degree"),
                F.col("in_degree").cast("long").alias("in_degree"),
                F.col("degree").cast("long").alias("degree"))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity importance over the KG's IRI→IRI edges. Fixed 10-round
    power method (damping 0.85, uniform dangling redistribution) so the
    unrolled SQL oracle computes the identical recurrence. Output is the
    rank scaled by the node count (Σrank = 1 → scaled values are O(1))
    rounded to 5 dp: double summation is task-order dependent on both
    engines, so the compare precision must dominate the accumulated
    error (~1e-12 after 10 rounds) — at step 1e-5 a boundary flap needs
    a true value within 1e-12 of a half-way point, p≈1e-7 per node."""
    from jsonld_spark.operators.graphstats import pagerank
    t = q_jsonld_doc_triples(spark, sf_dir)
    edges = t.where(F.col("obj_kind") == "iri") \
        .select(F.col("subj").alias("src"), F.col("obj_value").alias("dst"))
    pr = pagerank(edges, max_iter=10, tol=None)
    # pagerank's result is lineage-cut, so the double read (rows + the
    # 1-row count) never recomputes the iterations
    n = pr.agg(F.count(F.lit(1)).alias("_n"))
    return (pr.crossJoin(F.broadcast(n))
            .select("node", F.round(F.col("rank") * F.col("_n"), 5)
                    .alias("scaled_rank")))


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus near-dup: docs with doc_id % 4 == 0 play the
    incoming batch, the rest the existing corpus whose signature table
    is already landed (computed here from the same params). Candidates =
    equal LSH band hash across the two sets — corpus shingles are never
    recomputed per batch."""
    from jsonld_spark.operators.dedup import (minhash_pairs_incremental,
                                              minhash_signatures)
    docs = _read(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    corpus_sigs = minhash_signatures(corpus, shingle_len=5, num_hashes=16,
                                     hash_fn="md5")
    return minhash_pairs_incremental(new, corpus_sigs, shingle_len=5,
                                     num_hashes=16, bands=4,
                                     hash_fn="md5") \
        .select(F.col("new_id").cast("long").alias("new_id"),
                F.col("corpus_id").cast("long").alias("corpus_id"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming<=3 pairs over 32-bit simhashes via bit-sampling
    bands (recall 1.0 by pigeonhole, never a cross product)."""
    from jsonld_spark.operators.dedup import simhash32, simhash_neardup_pairs
    sims = simhash32(_read(spark, sf_dir, "documents"))
    return simhash_neardup_pairs(sims, max_hamming=3, bits=32) \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
                F.col("hamming").cast("long").alias("hamming"))


def q_simhash_neardup_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE contract for simhash near-dup: equal hashes collapse to
    (rep, size) groups first, the exact Hamming band join runs over
    DISTINCT hash values only, and the output is rep-level pairs +
    group sizes — linear in distinct hashes where the id-level pair
    contract (``simhash_neardup``) is quadratic in dup-group size."""
    from jsonld_spark.operators.dedup import simhash32, simhash_neardup_groups
    sims = simhash32(_read(spark, sf_dir, "documents"))
    _groups, rep_pairs = simhash_neardup_groups(sims, max_hamming=3,
                                                bits=32)
    return rep_pairs.select(
        F.col("hash_a").cast("long").alias("hash_a"),
        F.col("hash_b").cast("long").alias("hash_b"),
        F.col("rep_a").cast("long").alias("rep_a"),
        F.col("rep_b").cast("long").alias("rep_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("hamming").cast("long").alias("hamming"))


def q_minhash_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash over WORD 3-grams (same gram universe as ngram_jaccard)
    — the corpus×corpus scale path for n-gram similarity."""
    from jsonld_spark.operators.dedup import minhash_candidate_pairs
    return minhash_candidate_pairs(
        _read(spark, sf_dir, "documents"), shingle_len=3, num_hashes=16,
        bands=4, hash_fn="md5", shingle="word") \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: every doc labeled with the min id
    reachable through chains of LSH candidates + the cluster size.
    Oracle: recursive-CTE transitive closure over the same pairs."""
    from jsonld_spark.operators.dedup import dedup_clusters
    return dedup_clusters(_read(spark, sf_dir, "documents"), shingle_len=5,
                          num_hashes=16, bands=4, hash_fn="md5") \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.col("rep").cast("long").alias("rep"),
                F.col("cluster_n").cast("long").alias("cluster_n"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.dedup import simhash32
    return simhash32(_read(spark, sf_dir, "documents")) \
        .select("doc_id", F.col("simhash").cast("long").alias("simhash"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard of a small query set vs the corpus."""
    from jsonld_spark.operators.dedup import ngram_jaccard_pairs
    docs = _read(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") % 97 == 0)
    return ngram_jaccard_pairs(queries, docs, n=3) \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
                F.col("jaccard").cast("double").alias("jaccard"))


# Banded-LSH geometry for the embedding near-dup/cluster queries =
# similarity.lsh_geometry(0.4, target_recall=0.55): this corpus's
# planted near-dups top out at cosine ~0.5-0.6, so the wired threshold
# is 0.4 — a regime where P(plane agrees)≈0.63 makes high LSH recall
# impossible without near-brute-force candidates (the helper's
# docstring carries the math). 6 planes × 13 bands = recall 0.57 at
# sim 0.4 (round-2's 4×4 gave 0.50 at MORE expected candidates:
# 0.25·C(n,2) vs 0.20 here) and ~1.0 in the production ≥0.95 regime.
# Candidate rows carry ids only, so volume costs narrow shuffle rows,
# not vector payload.
from jsonld_spark.operators.similarity import lsh_geometry as _lshg

_EMB_GEOM = _lshg(0.4, target_recall=0.55)  # 6×13, achieved_recall≈0.57
_EMB_PLANES_PER_BAND, _EMB_BANDS = _EMB_GEOM.planes_per_band, _EMB_GEOM.bands
_EMB_PLANES_N = _EMB_PLANES_PER_BAND * _EMB_BANDS


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded LSH candidates + exact cosine verify
    (the 10^9-vector path; the all-pairs self-join stays available as the
    recall baseline with planes=None)."""
    from jsonld_spark.operators.similarity import embedding_neardup
    return embedding_neardup(_read(spark, sf_dir, "embeddings"),
                             threshold=0.4,
                             planes=_lsh_planes(_EMB_PLANES_N),
                             bands=_EMB_BANDS) \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
                F.col("sim").cast("double").alias("sim"))


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the LSH-banded embedding near-dup pairs:
    (vec_id, rep=min reachable id, cluster size). Oracle: recursive CTE
    over the identical banded candidate + verify SQL."""
    from jsonld_spark.operators.similarity import embedding_clusters
    return embedding_clusters(_read(spark, sf_dir, "embeddings"),
                              threshold=0.4,
                              planes=_lsh_planes(_EMB_PLANES_N),
                              bands=_EMB_BANDS) \
        .select(F.col("vec_id").cast("long").alias("vec_id"),
                F.col("rep").cast("long").alias("rep"),
                F.col("cluster_n").cast("long").alias("cluster_n"))


def q_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-landed-corpus embedding near-dup: vectors with
    vec_id % 4 == 0 play the incoming batch; the rest are the corpus
    whose int8 IVF index is already landed (built here from the same
    codebook). Candidates = shared inverted list (partition-pruned
    probe), int8 prefilter with the provably-safe margin, exact verify
    at the threshold — the corpus is never re-scanned per batch. Mirror
    of ``minhash_incremental`` for the embedding path."""
    import tempfile

    from jsonld_spark.operators.similarity import (
        build_ivf_index, embedding_neardup_incremental)
    emb = _read(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    idx_dir = tempfile.mkdtemp(prefix="jsonld_ivf_incr_") + "/index"
    cents = _ivf_centroids()
    build_ivf_index(corpus, cents, idx_dir)
    return embedding_neardup_incremental(
        spark, idx_dir, corpus, new, cents, threshold=0.4, nprobe=2) \
        .select(F.col("new_id").cast("long").alias("new_id"),
                F.col("corpus_id").cast("long").alias("corpus_id"),
                F.col("sim").cast("double").alias("sim"))


# Production-regime LSH geometry: threshold 0.9 → 12 planes × 14 bands,
# predicted recall 0.906 AT the 0.9 boundary (planted pairs sit at
# ~0.98 where recall is ~1.0) with expected random-pair candidate
# fraction 0.0034 — the selective regime real near-dup pipelines run,
# vs the near-brute-force 0.4 regime the planted-similarity corpus
# forces on `embedding_neardup`.
_HI_DIM = 64
_HI_PLANT_OFFSET = 1_000_000


def _hi_corpus(emb: DataFrame) -> DataFrame:
    """embeddings ∪ planted high-sim copies: every 20th vector gets a
    deterministic perturbed twin (v[i] + 0.2·v[(i+1) mod d], id offset
    +1e6) at cosine ≈0.98 to its source — the ≥0.9 pairs the base
    corpus lacks. The identical arithmetic is mirrored in the oracle
    SQL (double-precision elementwise, engine-independent)."""
    v = F.col("embedding").cast("array<double>")
    perturbed = F.transform(
        v, lambda x, i: x + F.lit(0.2)
        * F.element_at(v, (i + 1) % F.lit(_HI_DIM) + 1))
    planted = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(_HI_PLANT_OFFSET)).alias("vec_id"),
        perturbed.alias("embedding"))
    return emb.select("vec_id", v.alias("embedding")).unionByName(planted)


def q_embedding_neardup_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup in the PRODUCTION regime (threshold 0.9):
    selective banded LSH from ``lsh_geometry(0.9)`` over the corpus
    plus planted ~0.98-cosine twins. Candidate volume is ~0.3% of pair
    space (vs ~20% in the 0.4 regime) — the end-to-end check that the
    selective geometry actually finds the high-sim pairs."""
    from jsonld_spark.operators.similarity import (embedding_neardup,
                                                   lsh_geometry)
    g = lsh_geometry(0.9)
    corpus = _hi_corpus(_read(spark, sf_dir, "embeddings"))
    return embedding_neardup(
        corpus, threshold=0.9,
        planes=_lsh_planes(g.planes_per_band * g.bands, _HI_DIM),
        bands=g.bands) \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
                F.col("sim").cast("double").alias("sim"))


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.textstats import doc_stats
    df = doc_stats(_read(spark, sf_dir, "documents"))
    return df.select("doc_id",
                     F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
                     "n_tokens",
                     F.col("mean_token_len").cast("double").alias("mean_token_len"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.textstats import lang_id
    return lang_id(_read(spark, sf_dir, "documents"))


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-deterministic 30% Bernoulli sample (md5 bucket hash) —
    reproducible across engines, reruns, partitionings."""
    from jsonld_spark.operators.sampling import hash_sample
    return hash_sample(_read(spark, sf_dir, "documents"), 0.3,
                       ["doc_id"], salt="s0", hash_fn="md5") \
        .select(F.col("doc_id").cast("long").alias("doc_id"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling over predicted language
    (the corpus-mixing knob)."""
    from jsonld_spark.operators.sampling import stratified_hash_sample
    from jsonld_spark.operators.textstats import lang_id
    docs = _read(spark, sf_dir, "documents")
    langs = lang_id(docs).select("doc_id", "lang_pred")
    df = docs.join(langs, "doc_id")
    return stratified_hash_sample(df, {"en": 0.6, "und": 0.25},
                                  "lang_pred", ["doc_id"], salt="s0",
                                  default_fraction=0.0, hash_fn="md5") \
        .select(F.col("doc_id").cast("long").alias("doc_id"), "lang_pred")


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel: quality gate → exact dedup → transitive
    near-dup dedup → per-language deterministic sampling, every stage an
    oracle-checked operator composed into one plan."""
    from jsonld_spark.operators.sampling import curate_corpus
    return curate_corpus(_read(spark, sf_dir, "documents"),
                         min_quality=0.5,
                         lang_fractions={"en": 0.8, "und": 0.5},
                         salt="s0", hash_fn="md5") \
        .select(F.col("doc_id").cast("long").alias("doc_id"), "lang_pred",
                F.col("quality").cast("double").alias("quality"))


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) with per-session rollups —
    pure window + groupBy, oracle-identical SQL."""
    from jsonld_spark.operators.sessions import session_stats
    return session_stats(_read(spark, sf_dir, "events"), gap_s=1800) \
        .select(F.col("user_id").cast("long").alias("user_id"),
                F.col("session_idx").cast("long").alias("session_idx"),
                F.col("n_events").cast("long").alias("n_events"),
                F.col("duration_s").cast("double").alias("duration_s"),
                F.col("total_value").cast("double").alias("total_value"))


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-state streaming (``applyInPandasWithState``): gap-based
    sessionization over a time-partitioned two-file feed (early half /
    late half, one file per micro-batch so sessions straddle the batch
    boundary). The emitted CLOSED sessions must equal the batch
    ``session_stats`` rollup minus each user's final (still-open)
    session — which is exactly what the oracle computes in SQL."""
    import os
    import tempfile

    from jsonld_spark.streaming.stateful import stream_sessionize
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    tsd = F.col("ts").cast("timestamp").cast("double")
    split_ts = events.select(
        F.percentile(tsd, F.lit(0.5)).alias("p")).first()["p"]
    tmp = tempfile.mkdtemp(prefix="jsonld_stream_sess_")
    inp = os.path.join(tmp, "in")
    # coalesce(1): exactly one file per time half, so micro-batches
    # arrive per-user time-ordered (the operator's documented contract)
    events.where(tsd < split_ts).coalesce(1) \
        .write.mode("append").parquet(f"{inp}/f1")
    events.where(tsd >= split_ts).coalesce(1) \
        .write.mode("append").parquet(f"{inp}/f2")
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{inp}/*"))
    out = os.path.join(tmp, "out")
    q = (stream_sessionize(stream, gap_s=1800).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", os.path.join(tmp, "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("availableNow sessionize stream did not "
                           "finish within 600s; sink left incomplete")
    return spark.read.parquet(out).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("duration_s").cast("double").alias("duration_s"),
        F.col("total_value").cast("double").alias("total_value"))


def q_streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-state streaming #2: running per-user (count, sum)
    accumulated in GroupState across two micro-batches (two files).
    Update mode emits a row per user per batch touching it — the final
    state is the row with the highest event count (n is monotone), and
    must equal the batch groupBy on the same table."""
    import os
    import tempfile

    from jsonld_spark.streaming.stateful import stream_user_totals
    events = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "event_id", "value")
    tmp = tempfile.mkdtemp(prefix="jsonld_stream_ut_")
    inp = os.path.join(tmp, "in")
    # split each user's events ACROSS the two micro-batches so the
    # GroupState genuinely accumulates across batches
    events.where(F.col("event_id") % 2 == 0).drop("event_id").coalesce(1) \
        .write.mode("append").parquet(f"{inp}/f1")
    events.where(F.col("event_id") % 2 == 1).drop("event_id").coalesce(1) \
        .write.mode("append").parquet(f"{inp}/f2")
    stream = (spark.readStream.schema("user_id long, value double")
              .option("maxFilesPerTrigger", 1).parquet(f"{inp}/*"))
    name = "user_totals_q_" + os.path.basename(tmp)[-6:]
    q = (stream_user_totals(stream).writeStream.format("memory")
         .queryName(name)
         .option("checkpointLocation", os.path.join(tmp, "ckpt"))
         .outputMode("update").trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("availableNow user-totals stream did not "
                           "finish within 600s")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (spark.table(name)
            .withColumn("_r", F.row_number().over(w)).where(F.col("_r") == 1)
            .select(F.col("user_id").cast("long").alias("user_id"),
                    F.col("n_events").cast("long").alias("n_events"),
                    F.round("total_value", 2).cast("double")
                     .alias("total_value")))


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile with exact token-count percentiles."""
    from jsonld_spark.operators.textstats import corpus_profile
    return corpus_profile(_read(spark, sf_dir, "documents")) \
        .select("lang_pred", "n_docs", "total_tokens",
                F.col("avg_tokens").cast("double").alias("avg_tokens"),
                F.col("p50_tokens").cast("double").alias("p50_tokens"),
                F.col("p95_tokens").cast("double").alias("p95_tokens"))


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-line / dup-word /
    top-word fractions) — the filters that catch degenerate pages."""
    from jsonld_spark.operators.textstats import doc_repetition
    return doc_repetition(_read(spark, sf_dir, "documents")) \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.round("dup_line_frac", 6).alias("dup_line_frac"),
                F.round("dup_word_frac", 6).alias("dup_word_frac"),
                F.round("top_word_frac", 6).alias("top_word_frac"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 3-gram
    with the (broadcast) benchmark slice doc_id % 101 == 0 — the
    pre-training hygiene step keeping eval text out of training data.
    n=3 here (production uses 8-13) because the synthetic corpus has no
    exact replicas at sf0.01, so longer grams yield zero hits and the
    hash check would be vacuous; n=3 gives a few hundred value-checked
    rows through the identical plan."""
    from jsonld_spark.operators.dedup import decontaminate
    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 101 == 0)
    corpus = docs.where(F.col("doc_id") % 101 != 0)
    return decontaminate(corpus, bench, n=3, min_hits=1) \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "n_hit_grams")


# RDFS schema for the entailment query — ONE Python literal emitted into
# BOTH the Spark DataFrame and the oracle's SQL VALUES, so model and
# oracle cannot desync; the CLOSURE itself is derived independently
# (driver BFS in the operator vs WITH RECURSIVE in DuckDB).
_KG_EX = "http://example.org/"
_KG_SCHEMA_ROWS: list[tuple[str, str, str]] = []


def _kg_schema_rows() -> list[tuple[str, str, str]]:
    if not _KG_SCHEMA_ROWS:
        from jsonld_spark.operators.kg import (DOMAIN, RANGE, SUB_CLASS,
                                               SUB_PROP)
        c = _KG_EX + "class/"
        _KG_SCHEMA_ROWS.extend(
            [(f"{c}C{i}", SUB_CLASS, f"{c}C{(i - 1) // 2}")
             for i in range(1, 8)])
        _KG_SCHEMA_ROWS.extend([
            (f"{c}C0", SUB_CLASS, f"{c}Resource"),
            ("http://schema.org/associatedMedia", DOMAIN, f"{c}Document"),
            ("http://schema.org/associatedMedia", RANGE, f"{c}Media"),
            (f"{c}Document", SUB_CLASS, f"{c}Resource"),
            (f"{c}Media", SUB_CLASS, f"{c}Resource"),
            ("http://purl.org/dc/terms/source", SUB_PROP,
             _KG_EX + "provenance"),
            (_KG_EX + "provenance", DOMAIN, f"{c}Sourced"),
        ])
    return _KG_SCHEMA_ROWS


def _kg_data_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline triples + a deterministic asserted-type triple per doc
    (class = C{doc_id % 8} from the 8-class tree) — gives rdfs9/11 real
    multi-level work at every scale."""
    from jsonld_spark.operators.kg import RDF_TYPE
    triples = q_jsonld_doc_triples(spark, sf_dir).select(
        "subj", "pred", "obj_value", "obj_kind")
    types = _read(spark, sf_dir, "documents").select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.concat(F.lit(_KG_EX + "class/C"),
                 (F.col("doc_id") % 8).cast("string")).alias("obj_value"),
        F.lit("iri").alias("obj_kind"))
    return triples.unionByName(types)


def q_rdfs_entail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS entailment (rdfs2/3/5/7/9/11) of the doc KG under the
    8-class/2-property ontology: driver-closed schema applied to the
    fact table as a fixed 4-broadcast-join DAG — no data-side fixpoint."""
    from jsonld_spark.operators.kg import rdfs_closure
    schema = spark.createDataFrame(
        _kg_schema_rows(), "subj string, pred string, obj_value string")
    return rdfs_closure(_kg_data_triples(spark, sf_dir), schema) \
        .select("subj", "pred", "obj")


def q_bgp_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style basic-graph-pattern query: a 3-pattern star join
    over the triples table (constants → pushed-down filters, shared
    variable ?d → equi-joins; order/broadcast left to Catalyst+AQE)."""
    from jsonld_spark.operators.kg import bgp_match
    return bgp_match(q_jsonld_doc_triples(spark, sf_dir), [
        ("?d", "http://schema.org/associatedMedia", "?media"),
        ("?d", "http://schema.org/inLanguage", "?lang"),
        ("?d", "http://purl.org/dc/terms/source", "?src"),
    ])


def q_sparql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL *text* front-end (operators/sparql.py): the query below
    is parsed from the string and compiled onto the same algebra the
    programmatic rows call — OPTIONAL + numeric FILTER + GROUP BY with
    COUNT(DISTINCT) + ORDER BY, all from SPARQL source. The reference
    has no query language at all; this completes the engine's
    user-facing query surface."""
    from jsonld_spark.operators.sparql import sparql_query
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(reviews)
    return sparql_query(triples, f"""
        PREFIX schema: <http://schema.org/>
        PREFIX ex: <{_KG_EX}>
        SELECT ?lang (COUNT(DISTINCT ?d) AS ?n_docs)
               (COUNT(DISTINCT ?r) AS ?n_reviewers)
        WHERE {{
            ?d schema:inLanguage ?lang ;
               schema:associatedMedia ?m .
            OPTIONAL {{ ?d ex:reviewedBy ?r }}
        }}
        GROUP BY ?lang
        ORDER BY DESC(?n_docs) ?lang
    """)


def q_sparql_optional_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern OPTIONAL group with a group-scoped FILTER, from
    SPARQL text: the group (reviewer edge + reviewer level, filtered
    to non-junior) matches as a UNIT — docs whose reviewer has no
    level row, or a junior one, bind (null, null), never a half-bound
    row. Exercises kg.bgp_match's group/dict optional entries."""
    from jsonld_spark.operators.sparql import sparql_query
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    levels = spark.createDataFrame(
        [(f"{_KG_EX}reviewer/{i}", _KG_EX + "level",
          "senior" if i % 2 == 0 else "junior") for i in range(3)],
        "subj string, pred string, obj_value string")
    triples = _doc_triples3(spark, sf_dir) \
        .unionByName(reviews).unionByName(levels)
    return sparql_query(triples, f"""
        PREFIX schema: <http://schema.org/>
        PREFIX ex: <{_KG_EX}>
        SELECT ?d ?r ?lvl
        WHERE {{
            ?d schema:inLanguage ?lang .
            OPTIONAL {{ ?d ex:reviewedBy ?r .
                        ?r ex:level ?lvl
                        FILTER (?lvl != 'junior') }}
        }}
    """)


def q_sparql_not_exists_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated FILTER NOT EXISTS from SPARQL text — the argmax
    idiom: per source, keep only the doc(s) with the largest nChars.
    The group filter references the outer ?n (substitution
    semantics), compiling to an equi-keyed LeftAnti join on ?src with
    the numeric comparison as the residual condition — hash/SMJ
    plannable at any scale (no cartesian)."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX ex: <http://example.org/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?src ?d ?n
        WHERE {
            ?d dct:source ?src ; ex:nChars ?n .
            FILTER NOT EXISTS {
                ?d2 dct:source ?src ; ex:nChars ?n2
                FILTER (xsd:integer(?n2) > xsd:integer(?n))
            }
        }
    """)


def q_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 subqueries from text (operators/sparql.py →
    kg.bgp_match solution_joins): a GROUPed subquery (docs per source)
    joins the outer solutions on the shared ?src; a SCALAR subquery
    (global max of those counts, itself computed over a NESTED
    subquery) broadcasts disjoint; the FILTER keeps the docs of the
    most-populous source(s). Each subquery is compiled bottom-up
    (SPARQL §18.2.2) and planned as an ordinary join — grouped side
    shuffles once on src, scalar side is a 1-row broadcast."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        SELECT ?src ?d ?nd
        WHERE {
            ?d dct:source ?src .
            { SELECT ?src (COUNT(?d2) AS ?nd)
              WHERE { ?d2 dct:source ?src } GROUP BY ?src }
            { SELECT (MAX(?n2) AS ?mx) WHERE {
                { SELECT ?s3 (COUNT(?d3) AS ?n2)
                  WHERE { ?d3 dct:source ?s3 } GROUP BY ?s3 } } }
            FILTER(?nd = ?mx)
        }
    """)


def q_sparql_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-metadata builtins from SPARQL text: isLiteral() gates the
    solutions and DATATYPE() (via BIND) classifies every literal —
    lang-tagged → rdf:langString, plain → declared datatype or
    xsd:string. Compiles onto bgp_match(meta_vars={'o'}): the scan
    emits o__kind/__lang/__datatype beside the binding, solution
    dedup is RDF TERM identity, and the whole plan stays one scan +
    one aggregate."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = q_jsonld_doc_triples(spark, sf_dir)
    return sparql_query(triples, """
        SELECT ?dt (COUNT(?o) AS ?n) WHERE {
            ?s ?p ?o FILTER(isLiteral(?o))
            BIND(DATATYPE(?o) AS ?dt)
        } GROUP BY ?dt ORDER BY ?dt
    """)


def q_construct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT over a UNION where clause, from SPARQL text: the
    template instantiates once over the union's solutions (set
    semantics dedups across branches). Branch 1 also exercises
    blank-node pattern syntax — ``[]`` compiles to a non-distinguished
    variable, here an existence constraint on ex:nChars. Plan: per
    branch one pushed-filter scan and a distinct of its solutions, one
    union, then the template projection and one distinct — no joins
    beyond the bnode existence join."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX schema: <http://schema.org/>
        PREFIX ex: <http://example.org/>
        CONSTRUCT { ?d ex:connected ?o }
        WHERE {
            { ?d dct:source ?o . ?d ex:nChars [] }
            UNION
            { ?d schema:associatedMedia ?o }
        }
    """)


def q_sparql_union_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION mixed with other group members — the algebra
    Join(Union(A, B), rest): the union block compiles to a
    solution-join entry of bgp_match (same machinery as subqueries),
    joined to the required patterns on the shared variable. Each
    branch stays an independently-planned pushed-filter scan; the
    join key ?d is bound by every branch, so no
    unbound-compatibility branching is needed."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX schema: <http://schema.org/>
        PREFIX ex: <http://example.org/>
        SELECT ?d ?o WHERE {
            ?d ex:nChars ?n .
            { ?d dct:source ?o } UNION { ?d schema:associatedMedia ?o }
        }
    """)


def q_sparql_union_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER inside UNION branches — SPARQL scopes a branch FILTER to
    the branch group, so it prunes that branch's solutions BEFORE the
    null-padding union and cannot see sibling branches. Branch 1:
    English docs' dct:source values starting 'src1' (the branch
    FILTER); branch 2: German docs' media refs, unfiltered. Each
    branch stays an independently-planned pushed-filter scan
    (operators/sparql.py:_union_branch, kg.py:bgp_union
    branch_filters)."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX schema: <http://schema.org/>
        SELECT ?d ?o WHERE {
            { ?d schema:inLanguage 'en' . ?d dct:source ?o
              FILTER(STRSTARTS(?o, 'src1')) }
            UNION
            { ?d schema:inLanguage 'de' . ?d schema:associatedMedia ?o }
        }
    """)


def q_sparql_optional_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL over a UNION body — the algebra
    LeftJoin(rest, Union(A, B)): the branches' solution union becomes
    the optional side, with the group-scoped FILTER applied to the
    union's solutions BEFORE the left join (SPARQL leftjoin's expr).
    Branch 1 takes English docs' dct:source, branch 2 German docs'
    media ref; zh/es/fr docs match neither branch and keep a null
    ``?o`` (the left-join null path), and en docs whose source the
    FILTER rejects fall to null too rather than being dropped. The
    join key ?d is bound by every branch (the engine raises
    otherwise), so no unbound-compatibility branching is needed."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX schema: <http://schema.org/>
        PREFIX ex: <http://example.org/>
        SELECT ?d ?o WHERE {
            ?d ex:nChars ?n .
            OPTIONAL {
                { ?d schema:inLanguage 'en' . ?d dct:source ?o }
                UNION
                { ?d schema:inLanguage 'de' . ?d schema:associatedMedia ?o }
                FILTER (?o != 'src3')
            }
        }
    """)


def q_sparql_nested_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested OPTIONAL from SPARQL text — ``OPTIONAL { G OPTIONAL
    { I } }`` compiles to a recursive left-join tree evaluated as a
    unit: every media doc, OPTIONAL its reviewer, and INSIDE that
    group OPTIONAL the reviewer's org. Docs with no reviewer keep
    BOTH ``?rev`` and ``?org`` null — the inner optional never leaks
    across a failed group. Contrast ``bgp_optional_chain``: the
    SEQUENTIAL form of the same two optionals bind-onces an unbound
    ``?rev`` against every worksFor row (SPARQL unbound
    compatibility); nesting changes the answer, and this row pins the
    difference."""
    from jsonld_spark.operators.sparql import sparql_query
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    works = spark.createDataFrame(
        [(f"{_KG_EX}reviewer/{k}", _KG_EX + "worksFor",
          f"{_KG_EX}org/{k % 2}") for k in range(3)],
        "subj string, pred string, obj_value string")
    triples = _doc_triples3(spark, sf_dir) \
        .unionByName(reviews).unionByName(works)
    return sparql_query(triples, f"""
        PREFIX schema: <http://schema.org/>
        PREFIX ex: <{_KG_EX}>
        SELECT ?d ?rev ?org WHERE {{
            ?d schema:associatedMedia ?media .
            OPTIONAL {{ ?d ex:reviewedBy ?rev
                        OPTIONAL {{ ?rev ex:worksFor ?org }} }}
        }}
    """)


def q_sparql_optional_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full group body inside OPTIONAL — BIND + FILTER NOT EXISTS as
    group members: every language-tagged doc, OPTIONAL its dct:source
    with an uppercased alias (BIND = Extend over the group's
    solutions), where the whole group is suppressed for German docs
    (NOT EXISTS applies to the GROUP: a rejected row leaves ?src AND
    the bind var null — it never drops the doc). Compiles to a
    recursive bgp_match on the optional side: anti join + projection
    under the left join, no correlated subplan."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX schema: <http://schema.org/>
        SELECT ?d ?src ?tag WHERE {
            ?d schema:inLanguage ?l .
            OPTIONAL { ?d dct:source ?src
                       BIND(UCASE(?src) AS ?tag)
                       FILTER NOT EXISTS { ?d schema:inLanguage 'de' } }
        }
    """)


def q_sparql_optional_subquery(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Subquery as the ONLY member of an OPTIONAL body — the
    attach-an-aggregate idiom: every sourced doc, OPTIONAL the count
    of English docs sharing its source (a grouped subquery whose
    solution set seeds the group; sources with no English doc keep a
    null count instead of dropping the doc). The subquery-bound join
    key ?src is provably non-null (it is required inside the
    subquery), so the outer left join is a plain equi join; the
    aggregate compiles bottom-up per SPARQL §18.2.2."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = q_jsonld_doc_triples(spark, sf_dir) \
        .select("subj", "pred", "obj_value")
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX schema: <http://schema.org/>
        SELECT ?d ?src ?n WHERE {
            ?d dct:source ?src .
            OPTIONAL { { SELECT ?src (COUNT(?x) AS ?n) WHERE {
                           ?x dct:source ?src .
                           ?x schema:inLanguage 'en' }
                         GROUP BY ?src } }
        }
    """)


def q_sparql_optional_correlated(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Correlated OPTIONAL filter — SPARQL LeftJoin(Ω1, Ω2, expr)
    with expr comparing an OUTER variable against a group variable:
    attach a doc's reviewer only when the doc is long enough for the
    reviewer's minimum (``FILTER(xsd:integer(?n) >= xsd:integer(?m))``
    references outer ?n and group ?m). The filter compiles to the
    left join's residual condition over equi keys on ?d — a reviewer
    failing it is as-if absent for THAT doc only (the doc keeps a
    null ?r, never drops). The DuckDB oracle is the literal
    ``LEFT JOIN ... ON d = d AND n >= mc``."""
    from jsonld_spark.operators.sparql import sparql_query
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    caps = spark.createDataFrame(
        [(f"{_KG_EX}reviewer/{i}", _KG_EX + "minChars", str(i * 300))
         for i in range(5)],
        "subj string, pred string, obj_value string")
    triples = _doc_triples3(spark, sf_dir) \
        .unionByName(reviews).unionByName(caps)
    return sparql_query(triples, f"""
        PREFIX ex: <{_KG_EX}>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?d ?n ?r
        WHERE {{
            ?d ex:nChars ?n .
            OPTIONAL {{ ?d ex:reviewedBy ?r . ?r ex:minChars ?m
                        FILTER (xsd:integer(?n) >= xsd:integer(?m)) }}
        }}
    """)


def q_sparql_exists_subquery(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Subquery inside FILTER EXISTS — keep docs whose ex:under
    parent is itself non-root AND has at least two children (a
    grouped HAVING subquery joined to the body's required pattern on
    ?p, then the whole body semi-joins the outer solutions on the
    shared vars). Substitution does not descend into subqueries, so
    the subquery compiles independently; a subquery-only var shared
    with the outer query would raise typed."""
    from jsonld_spark.operators.sparql import sparql_query
    docs = _read(spark, sf_dir, "documents")
    iri = lambda c: F.concat(F.lit(_KG_EX + "doc/"), c.cast("string"))  # noqa: E731
    under = docs.where(F.col("doc_id") >= 1).select(
        iri(F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "under").alias("pred"),
        iri(F.floor(F.col("doc_id") / 2)).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(under)
    return sparql_query(triples, f"""
        PREFIX ex: <{_KG_EX}>
        SELECT ?d ?p
        WHERE {{
            ?d ex:under ?p .
            FILTER EXISTS {{
                ?p ex:under ?gp .
                {{ SELECT ?p WHERE {{ ?c ex:under ?p }}
                   GROUP BY ?p HAVING (COUNT(?c) >= 2) }}
            }}
        }}
    """)


def q_sparql_filter_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[NOT] EXISTS embedded in a FILTER expression — the disjunction
    ``FILTER(?l = 'de' || EXISTS { ?d dct:source 'src3' })`` keeps
    German docs plus the docs sourced from src3. A standalone FILTER
    EXISTS plans a semi join; embedded in a boolean expression it
    cannot (the OR must see a value), so it compiles to a marker left
    join against the group's distinct key set and the expression
    tests the marker. One scan per EXISTS group, no row
    multiplication, no correlated subplan."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX schema: <http://schema.org/>
        SELECT ?d ?l WHERE {
            ?d schema:inLanguage ?l .
            FILTER(?l = 'de' || EXISTS { ?d dct:source 'src3' })
        }
    """)


def q_sparql_double_neg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested negation (the forall idiom): docs that have no
    UNREVIEWED media — ``FILTER NOT EXISTS { ?d :associatedMedia ?m
    FILTER NOT EXISTS { ?d :reviewedBy ?r } }``. The inner NOT EXISTS
    compiles by the same group compiler over the outer body's
    solutions (operators/kg.py:_group), so the whole test stays
    two anti-join trees — no correlated subplan, no row
    multiplication."""
    from jsonld_spark.operators.sparql import sparql_query
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(reviews)
    return sparql_query(triples, """
        PREFIX ex: <http://example.org/>
        PREFIX schema: <http://schema.org/>
        SELECT ?d WHERE {
            ?d ex:nChars ?n .
            FILTER NOT EXISTS { ?d schema:associatedMedia ?m
                FILTER NOT EXISTS { ?d ex:reviewedBy ?r } }
        }
    """)


def q_sparql_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset clauses (SPARQL §13.2): doc triples homed into
    per-source graphs; ``FROM <g/src1> FROM <g/src2>`` merges those
    two feeds into the default graph, so the pattern matches only
    their docs. Compiles to one pushed graph-column isin filter on
    the scan (operators/sparql.py:_apply_dataset_clause) — partition
    pruning on a graph-partitioned layout."""
    from jsonld_spark.operators.sparql import sparql_query
    docs = _read(spark, sf_dir, "documents")
    src = docs.select(F.col("doc_id").cast("long").alias("_n"), "source")
    t = (q_jsonld_doc_triples(spark, sf_dir)
         .withColumn("_n", F.regexp_replace("doc_id", "^doc-", "")
                     .cast("long"))
         .join(src, "_n")
         .withColumn("graph", F.concat(F.lit(_KG_EX + "g/"),
                                       F.col("source")))
         .select("subj", "pred", "obj_value", "graph"))
    return sparql_query(t, f"""
        PREFIX schema: <http://schema.org/>
        SELECT ?d ?l FROM <{_KG_EX}g/src1> FROM <{_KG_EX}g/src2>
        WHERE {{ ?d schema:inLanguage ?l }}
    """)


def q_sparql_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dateTime accessors (SPARQL §17.4.5) from text: events become
    triples whose ``ex:ts`` object is the xsd:dateTime LEXICAL form
    (microsecond-precision ISO 8601, the shape toRDF emits), and the
    query filters/buckets with YEAR/SECONDS/MONTH/HOURS — each
    compiles to ``try_cast(... as timestamp)`` + the builtin, so one
    malformed literal (a planted ``not-a-dateTime`` row) is a SPARQL
    type error → NULL → dropped by the FILTER, never a task-failing
    ANSI cast error. Plan: scan → join → project → one aggregate."""
    from jsonld_spark.operators.sparql import sparql_query
    ev = _read(spark, sf_dir, "events")
    subj = F.concat(F.lit(_KG_EX + "event/"),
                    F.col("event_id").cast("string"))
    triples = ev.select(
        subj.alias("subj"), F.lit(_KG_EX + "ts").alias("pred"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
         .alias("obj_value"),
    ).unionByName(ev.select(
        subj.alias("subj"), F.lit(_KG_EX + "type").alias("pred"),
        F.col("event_type").alias("obj_value"),
    )).unionByName(spark.createDataFrame(
        [(_KG_EX + "event/bad", _KG_EX + "ts", "not-a-dateTime"),
         (_KG_EX + "event/bad", _KG_EX + "type", "click")],
        "subj string, pred string, obj_value string"))
    out = sparql_query(triples, f"""
        PREFIX ex: <{_KG_EX}>
        SELECT ?mo ?h (COUNT(?e) AS ?n_events)
               (COUNT(DISTINCT ?ty) AS ?n_types)
        WHERE {{
            ?e ex:ts ?t ; ex:type ?ty
            FILTER(YEAR(?t) = 2024 && SECONDS(?t) >= 10)
            BIND(MONTH(?t) AS ?mo) BIND(HOURS(?t) AS ?h)
        }}
        GROUP BY ?mo ?h
        ORDER BY ?mo ?h
    """)
    return out.select(F.col("mo").cast("long").alias("mo"),
                      F.col("h").cast("long").alias("h"),
                      F.col("n_events").cast("long").alias("n_events"),
                      F.col("n_types").cast("long").alias("n_types"))


def q_construct_bnode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT with a template blank node (SPARQL §16.2): ``_:z``
    mints one fresh node per solution, shared across the solution's
    two template triples — the reification/annotation-node idiom of
    KG construction. Minting is deterministic (``_:m`` + md5 over the
    solution's length-prefix-encoded bindings), so the oracle can
    reproduce the exact ids; zero extra shuffles (the mint is a
    projection over the match)."""
    from jsonld_spark.operators.sparql import sparql_query
    triples = _doc_triples3(spark, sf_dir)
    return sparql_query(triples, """
        PREFIX dct: <http://purl.org/dc/terms/>
        PREFIX ex: <http://example.org/>
        CONSTRUCT { _:z ex:citation ?d . _:z ex:src ?src }
        WHERE { ?d dct:source ?src }
    """)


def q_bgp_star_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bgp_star star join on the term-dictionary-ENCODED layout
    (operators/encode.py): subjects/objects hash to 8-byte xxhash64
    ids, the three-pattern join runs on long keys (~10x smaller
    shuffle than IRI strings at 100 TB), and the result decodes back
    through the dictionary — pinned against the SAME oracle as
    bgp_star, so encoded results must be byte-identical to the
    string-side plan."""
    from jsonld_spark.operators.encode import (bgp_match_encoded,
                                               encode_triples,
                                               term_dictionary)
    from jsonld_spark.session import reuse
    # this row reads the triples twice (encoded facts and dictionary)
    triples = reuse(_doc_triples3(spark, sf_dir))
    enc = encode_triples(triples)
    d = term_dictionary(triples)
    return bgp_match_encoded(enc, [
        ("?d", "http://schema.org/associatedMedia", "?media"),
        ("?d", "http://schema.org/inLanguage", "?lang"),
        ("?d", "http://purl.org/dc/terms/source", "?src"),
    ], dictionary=d)


def q_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with a SPARQL OPTIONAL clause: every doc's media plus its
    reviewer where one exists (deterministic: docs with doc_id % 3 == 0
    carry an ex:reviewedBy triple; the other two thirds bind null)."""
    from jsonld_spark.operators.kg import bgp_match
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(reviews)
    return bgp_match(triples, [
        ("?d", "http://schema.org/associatedMedia", "?media"),
    ], optional=[
        ("?d", _KG_EX + "reviewedBy", "?reviewer"),
    ])


def q_bgp_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with a SPARQL FILTER: docs with their size and language,
    restricted to nChars >= 300 (a value filter over a bound var)."""
    from jsonld_spark.operators.kg import bgp_match
    triples = _doc_triples3(spark, sf_dir)
    return bgp_match(triples, [
        ("?d", "http://example.org/nChars", "?nc"),
        ("?d", "http://schema.org/inLanguage", "?lang"),
    ], filters=["cast(nc as int) >= 300"])


def q_bgp_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION of two branches binding different variables: docs
    from source src1 (src unbound/null) union German docs with their
    source bound."""
    from jsonld_spark.operators.kg import bgp_union
    triples = _doc_triples3(spark, sf_dir)
    return bgp_union(triples, [
        [("?d", "http://purl.org/dc/terms/source", "src1")],
        [("?d", "http://schema.org/inLanguage", "de"),
         ("?d", "http://purl.org/dc/terms/source", "?src")],
    ])


def q_describe_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE of one node over doc triples plus the ex:under
    hierarchy — returns every triple where ex:doc/21 is subject (its
    five document triples + its own under-edge) or object (its two
    children's under-edges), with the role per row."""
    from jsonld_spark.operators.kg import describe
    docs = _read(spark, sf_dir, "documents")
    iri = lambda c: F.concat(F.lit(_KG_EX + "doc/"), c.cast("string"))  # noqa: E731
    under = docs.where(F.col("doc_id") >= 1).select(
        iri(F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "under").alias("pred"),
        iri(F.floor(F.col("doc_id") / 2)).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(under)
    return describe(triples, _KG_EX + "doc/21")


def q_bgp_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SELECT ... GROUP BY: solutions from bgp_match are a
    plain DataFrame, so aggregation is ordinary Spark — docs and media
    per language, largest first."""
    from jsonld_spark.operators.kg import bgp_match
    triples = _doc_triples3(spark, sf_dir)
    sol = bgp_match(triples, [
        ("?d", "http://schema.org/inLanguage", "?lang"),
        ("?d", "http://schema.org/associatedMedia", "?m"),
    ])
    return (sol.groupBy("lang")
            .agg(F.countDistinct("d").alias("n_docs"),
                 F.countDistinct("m").alias("n_media"))
            .orderBy(F.col("n_docs").desc(), "lang"))


def q_bgp_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH clause over named graphs: doc triples re-homed into
    per-source graphs (graph = ex:g/<source>); the constant-graph
    pattern restricts to src1's feed, the variable-graph pattern binds
    each doc's graph name."""
    from jsonld_spark.operators.kg import bgp_match
    docs = _read(spark, sf_dir, "documents")
    src = docs.select(F.col("doc_id").cast("long").alias("_n"), "source")
    t = (q_jsonld_doc_triples(spark, sf_dir)
         .withColumn("_n", F.regexp_replace("doc_id", "^doc-", "")
                     .cast("long"))
         .join(src, "_n")
         .withColumn("graph", F.concat(F.lit(_KG_EX + "g/"),
                                       F.col("source")))
         .select("subj", "pred", "obj_value", "graph"))
    return bgp_match(t, [
        ("?d", "http://schema.org/associatedMedia", "?media",
         _KG_EX + "g/src1"),
        ("?d", "http://schema.org/inLanguage", "?lang", "?g"),
    ])


def q_construct_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT: derive a new graph inverting associatedMedia
    into ex:mediaOf edges, plus ex:checkedBy provenance where a
    reviewer exists (OPTIONAL; unbound solutions skip that template
    triple per SPARQL)."""
    from jsonld_spark.operators.kg import construct
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(reviews)
    return construct(
        triples,
        [("?d", "http://schema.org/associatedMedia", "?m")],
        [("?m", _KG_EX + "mediaOf", "?d"),
         ("?m", _KG_EX + "checkedBy", "?r")],
        optional=[("?d", _KG_EX + "reviewedBy", "?r")])


def q_kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume KG materialization end to end: docs with
    doc_id % 10 != 0 are materialized (subject-bucket partitions, one
    lineage manifest each), then the remaining tenth arrive as an
    upsert batch that ALSO re-sends docs doc_id % 20 == 5 (replacement
    must be idempotent, not append) while docs doc_id % 30 == 7 are
    deleted. The read-back graph must equal the one-shot oracle over
    all docs minus the deleted ones — duplicates from a broken
    replace-path would fail the row-count gate."""
    import os
    import tempfile

    from jsonld_spark.operators.materialize import (materialize_graph,
                                                    read_graph,
                                                    upsert_documents)
    from jsonld_spark.session import reuse
    cols = ["doc_id", "graph", "subj", "pred", "obj_kind", "obj_value",
            "obj_datatype", "obj_lang"]
    # this row reads t in three operator calls (build, batch, deletes)
    t = reuse(q_jsonld_doc_triples(spark, sf_dir)
              .withColumn("_n", F.regexp_replace("doc_id", "^doc-", "")
                          .cast("long")))
    out = os.path.join(tempfile.mkdtemp(prefix="kg_incr_q_"), "graph")
    materialize_graph(t.where(F.col("_n") % 10 != 0).select(*cols),
                      out, n_buckets=8, run_id="r1")
    second = t.where((F.col("_n") % 10 == 0) | (F.col("_n") % 20 == 5)) \
        .select(*cols)
    deleted = (t.where(F.col("_n") % 30 == 7)
               .select("doc_id").distinct())
    upsert_documents(second, out, deleted_doc_ids=deleted, run_id="u1")
    return read_graph(spark, out).select(*cols)


def q_bgp_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER NOT EXISTS: docs with media that have NO reviewer
    (reviewer triples exist for doc_id % 3 == 0, as in bgp_optional)."""
    from jsonld_spark.operators.kg import bgp_match
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(reviews)
    return bgp_match(triples, [
        ("?d", "http://schema.org/associatedMedia", "?media"),
    ], not_exists=[
        [("?d", _KG_EX + "reviewedBy", "?r")],
    ])


def q_bgp_exists_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER EXISTS (semi-join) + MINUS (anti-join) in one
    query: media docs that HAVE a reviewer (doc_id % 3 == 0) MINUS
    those reviewed by reviewer/0 (doc_id % 5 == 0) — i.e. % 3 == 0 and
    % 5 != 0."""
    from jsonld_spark.operators.kg import bgp_match
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(reviews)
    return bgp_match(triples, [
        ("?d", "http://schema.org/associatedMedia", "?media"),
    ], exists=[
        [("?d", _KG_EX + "reviewedBy", "?r")],
    ], minus=[
        [("?d", _KG_EX + "reviewedBy", _KG_EX + "reviewer/0")],
    ])


def q_bgp_optional_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential OPTIONALs + MINUS under SPARQL unbound-compatibility
    (the round-5 semantics): every media doc, OPTIONAL its reviewer
    (bound for doc_id % 3 == 0 only), OPTIONAL the reviewer's org —
    docs with NO reviewer leave ?rev unbound, so per SPARQL they are
    compatible with EVERY worksFor row and bind ?rev/?org from it
    (bind-once, multiplying those docs by the 3 employed reviewers);
    MINUS then removes solutions whose (possibly just-bound) reviewer
    is suspended (reviewer/0)."""
    from jsonld_spark.operators.kg import bgp_match
    docs = _read(spark, sf_dir, "documents")
    reviews = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "reviewedBy").alias("pred"),
        F.concat(F.lit(_KG_EX + "reviewer/"),
                 (F.col("doc_id") % 5).cast("string")).alias("obj_value"))
    works = spark.createDataFrame(
        [(f"{_KG_EX}reviewer/{k}", _KG_EX + "worksFor",
          f"{_KG_EX}org/{k % 2}") for k in range(3)],
        "subj string, pred string, obj_value string")
    susp = spark.createDataFrame(
        [(_KG_EX + "reviewer/0", _KG_EX + "suspended", "true")],
        "subj string, pred string, obj_value string")
    triples = _doc_triples3(spark, sf_dir) \
        .unionByName(reviews).unionByName(works).unionByName(susp)
    return bgp_match(triples, [
        ("?d", "http://schema.org/associatedMedia", "?media"),
    ], optional=[
        ("?d", _KG_EX + "reviewedBy", "?rev"),
        ("?rev", _KG_EX + "worksFor", "?org"),
    ], minus=[
        [("?rev", _KG_EX + "suspended", "?s")],
    ])


def q_bgp_path_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path INSIDE a BGP pattern (SPARQL 1.1 §9: paths in
    triple patterns): ``?a <parent>+ doc/1 . ?a schema:associatedMedia
    ?m`` — every strict descendant of doc/1 in the binary parent tree
    that has media, joined to its media IRIs. The path term plans the
    doubling closure once; its (src, dst) relation then joins the
    media scan like any other pattern (operators/kg.py:_pattern_step).
    """
    from jsonld_spark.operators.kg import bgp_match
    docs = _read(spark, sf_dir, "documents")
    parent = docs.where(F.col("doc_id") >= 1).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "parent").alias("pred"),
        F.concat(F.lit(_KG_EX + "doc/"),
                 F.floor(F.col("doc_id") / 2).cast("long"))
        .alias("obj_value"))
    triples = _doc_triples3(spark, sf_dir).unionByName(parent)
    return bgp_match(triples, [
        ("?a", f"<{_KG_EX}parent>+", _KG_EX + "doc/1"),
        ("?a", "http://schema.org/associatedMedia", "?m"),
    ])


def q_owl_entail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-lite entailment over doc triples plus a deterministic
    ex:under hierarchy (doc i under doc i//2, the kg_paths shape):
    ex:under is transitive, associatedMedia has inverse ex:mediaOf,
    and ex:sharesTopicWith (doc 2k <-> weirdly asserted one-way) is
    symmetric."""
    from jsonld_spark.operators.kg import (
        INVERSE_OF, RDF_TYPE, SYMMETRIC_PROPERTY, TRANSITIVE_PROPERTY,
        owl_closure)
    docs = _read(spark, sf_dir, "documents")
    iri = lambda c: F.concat(F.lit(_KG_EX + "doc/"), c.cast("string"))  # noqa: E731
    under = docs.where(F.col("doc_id") >= 1).select(
        iri(F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "under").alias("pred"),
        iri(F.floor(F.col("doc_id") / 2)).alias("obj_value"),
        F.lit("iri").alias("obj_kind"))
    topic = docs.where(F.col("doc_id") % 2 == 0).select(
        iri(F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "sharesTopicWith").alias("pred"),
        iri(F.col("doc_id") + 1).alias("obj_value"),
        F.lit("iri").alias("obj_kind"))
    triples = q_jsonld_doc_triples(spark, sf_dir) \
        .select("subj", "pred", "obj_value", "obj_kind") \
        .unionByName(under).unionByName(topic)
    schema = spark.createDataFrame([
        (_KG_EX + "under", RDF_TYPE, TRANSITIVE_PROPERTY),
        ("http://schema.org/associatedMedia", INVERSE_OF,
         _KG_EX + "mediaOf"),
        (_KG_EX + "sharesTopicWith", RDF_TYPE, SYMMETRIC_PROPERTY),
    ], "subj string, pred string, obj_value string")
    return owl_closure(triples, schema)


def q_shacl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-style validation over doc triples with deterministic
    injected defects: docs doc_id % 7 == 0 lose their associatedMedia
    triple (minCount), % 13 get a .png media IRI (pattern), % 11 gain
    a second inLanguage literal (maxCount)."""
    from jsonld_spark.operators.kg import Shape, shacl_validate
    from jsonld_spark.session import reuse
    ASSOC = "http://schema.org/associatedMedia"
    LANGP = "http://schema.org/inLanguage"
    TEXT = "http://schema.org/text"
    # this row reads t twice (the defect-injected base and the extras)
    t = reuse(q_jsonld_doc_triples(spark, sf_dir)
              .withColumn("_n", F.regexp_replace("doc_id", "^doc-", "")
                          .cast("long")))
    base = (t.where(~((F.col("pred") == ASSOC) & (F.col("_n") % 7 == 0)))
            .withColumn("obj_value",
                        F.when((F.col("pred") == ASSOC)
                               & (F.col("_n") % 13 == 0),
                               F.regexp_replace("obj_value", "\\.jpg$",
                                                ".png"))
                        .otherwise(F.col("obj_value"))))
    extra = (t.where((F.col("pred") == TEXT) & (F.col("_n") % 11 == 0))
             .select("subj", F.lit(LANGP).alias("pred"),
                     F.lit("literal").alias("obj_kind"),
                     F.lit("xx").alias("obj_value"),
                     F.lit(XSD + "string").alias("obj_datatype")))
    cols = ["subj", "pred", "obj_kind", "obj_value", "obj_datatype"]
    triples = base.select(*cols).unionByName(extra.select(*cols))
    return shacl_validate(triples, [
        Shape("media", path=ASSOC, targets=TEXT, min_count=1,
              max_count=1, node_kind="iri", pattern="\\.jpg$"),
        Shape("lang", path=LANGP, targets=TEXT, max_count=1,
              node_kind="literal"),
    ])


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup: the corpus keeps the first occurrence of
    every 10-word window; docs are reassembled from surviving spans
    (exact-dup replicas lose every span; originals keep them all)."""
    from jsonld_spark.operators.dedup import span_dedup
    return span_dedup(_read(spark, sf_dir, "documents"), span_words=10) \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.col("n_spans").cast("long").alias("n_spans"),
                F.col("n_spans_kept").cast("long").alias("n_spans_kept"),
                "clean_text")


def q_kg_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path parent+ over a synthetic binary-tree parent
    edge per document (doc i -> doc i//2): iterative doubling, one
    fixpoint join per log2(depth)."""
    from jsonld_spark.operators.kg import property_path
    edges = _read(spark, sf_dir, "documents").where(F.col("doc_id") >= 1) \
        .select(
            F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
            F.lit(_KG_EX + "parent").alias("pred"),
            F.concat(F.lit(_KG_EX + "doc/"),
                     F.floor(F.col("doc_id") / 2).cast("long"))
            .alias("obj_value"))
    return property_path(edges, _KG_EX + "parent") \
        .select("src", "dst")


def q_kg_path_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property-path ALGEBRA over the binary-tree parent
    edge: ``(<parent>/^<parent>) | <parent>*`` — sequence, inverse,
    alternation and the zero-length-capable star in one expression
    (siblings-incl-self union ancestor-or-self). Sequence = one
    midpoint equi-join, star = doubling closure + node identity, all
    relational algebra Catalyst/AQE plans (operators/kg.py:kg_path)."""
    from jsonld_spark.operators.kg import kg_path
    edges = _read(spark, sf_dir, "documents").where(F.col("doc_id") >= 1) \
        .select(
            F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
            F.lit(_KG_EX + "parent").alias("pred"),
            F.concat(F.lit(_KG_EX + "doc/"),
                     F.floor(F.col("doc_id") / 2).cast("long"))
            .alias("obj_value"))
    pp = _KG_EX + "parent"
    return kg_path(edges, f"(<{pp}>/^<{pp}>) | <{pp}>*") \
        .select("src", "dst")


def q_kg_path_neg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 negated property set (§9.1 PathNegatedPropertySet)
    over a two-predicate graph: ``!(<cites> | ^<parent>)`` keeps
    forward edges whose predicate is NOT ex:cites plus reversed edges
    whose predicate is NOT ex:parent. Plans as two pushed-filter scans
    of the same triple table + union + distinct — no joins at all."""
    from jsonld_spark.operators.kg import kg_path
    docs = _read(spark, sf_dir, "documents")
    parent = docs.where(F.col("doc_id") >= 1).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "parent").alias("pred"),
        F.concat(F.lit(_KG_EX + "doc/"),
                 F.floor(F.col("doc_id") / 2).cast("long")).alias("obj_value"))
    cites = docs.where(F.col("doc_id") >= 3).select(
        F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "cites").alias("pred"),
        F.concat(F.lit(_KG_EX + "doc/"),
                 F.floor(F.col("doc_id") / 3).cast("long")).alias("obj_value"))
    return kg_path(parent.unionByName(cites),
                   f"!(<{_KG_EX}cites> | ^<{_KG_EX}parent>)") \
        .select("src", "dst")


def q_kg_path_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path under GRAPH ?var: parent+ closed PER NAMED GRAPH
    in one distributed job — the binary-tree parent edges are homed
    into per-source graphs, and the graph column rides the doubling
    join keys (operators/kg.py:kg_path(g_col=...)), so a chain that
    crosses sources is NOT a path in any single graph. All graphs'
    closures come from a single fixpoint, never one closure per
    graph."""
    from jsonld_spark.operators.kg import bgp_match
    edges = _read(spark, sf_dir, "documents") \
        .where(F.col("doc_id") >= 1).select(
            F.concat(F.lit(_KG_EX + "doc/"), F.col("doc_id")).alias("subj"),
            F.lit(_KG_EX + "parent").alias("pred"),
            F.concat(F.lit(_KG_EX + "doc/"),
                     F.floor(F.col("doc_id") / 2).cast("long"))
            .alias("obj_value"),
            F.concat(F.lit(_KG_EX + "g/"), F.col("source")).alias("graph"))
    pp = _KG_EX + "parent"
    return bgp_match(edges, [("?x", f"<{pp}>+", "?y", "?g")]) \
        .select(F.col("g").alias("graph"), F.col("x").alias("src"),
                F.col("y").alias("dst"))


def q_bgp_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES + BIND: an inline binding table (with an UNDEF
    wildcard row — unbound matches anything per the compatible-bindings
    rule) constrains and extends the solutions; BIND computes a new
    column. VALUES plans as a broadcast join, BIND a pure projection."""
    from jsonld_spark.operators.kg import bgp_match
    triples = q_jsonld_doc_triples(spark, sf_dir) \
        .select("subj", "pred", "obj_value")
    return bgp_match(
        triples, [("?d", "http://schema.org/inLanguage", "?l")],
        values=[{"l": "en", "tier": "tier1"},
                {"l": "de", "tier": "tier2"},
                {"l": None, "tier": "any"}],
        binds=[("l_uc", "upper(l)")])


def q_same_as_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs entity fusion: docs doc_id % 10 == 1 carry a sameAs
    CHAIN doc/i = alias/i = alias2/i (the far pair never co-occurs in
    one triple) plus a fact asserted against the far alias; fusion
    resolves the chain via connected components and rewrites every
    subject/object to the canonical (min) IRI, consuming the sameAs
    triples (operators/kg.py:same_as_fuse)."""
    from jsonld_spark.operators.kg import SAME_AS, same_as_fuse
    docs1 = _read(spark, sf_dir, "documents") \
        .where(F.col("doc_id") % 10 == 1)
    iri = lambda pre, c: F.concat(F.lit(_KG_EX + pre), c.cast("string"))  # noqa: E731
    chain = docs1.select(
        iri("doc/", F.col("doc_id")).alias("subj"),
        F.lit(SAME_AS).alias("pred"),
        iri("alias/", F.col("doc_id")).alias("obj_value"),
        F.lit("iri").alias("obj_kind")) \
        .unionByName(docs1.select(
            iri("alias/", F.col("doc_id")).alias("subj"),
            F.lit(SAME_AS).alias("pred"),
            iri("alias2/", F.col("doc_id")).alias("obj_value"),
            F.lit("iri").alias("obj_kind")))
    far_fact = docs1.select(
        iri("alias2/", F.col("doc_id")).alias("subj"),
        F.lit(_KG_EX + "citedBy").alias("pred"),
        iri("doc/", F.col("doc_id") + 1).alias("obj_value"),
        F.lit("iri").alias("obj_kind"))
    triples = q_jsonld_doc_triples(spark, sf_dir) \
        .select("subj", "pred", "obj_value", "obj_kind") \
        .unionByName(chain).unionByName(far_fact)
    return same_as_fuse(triples) \
        .select("subj", "pred", "obj_value", "obj_kind")


def q_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-index-growth invariant: build the int8 IVF index on 90%
    of the vectors, APPEND the remaining 10% (one batch scan, existing
    list partitions untouched), then search — results must equal a
    from-scratch build over everything (same oracle as
    ivf_index_topk, pinned by the rows+hash gate)."""
    import tempfile

    from jsonld_spark.operators.similarity import (append_to_ivf_index,
                                                   build_ivf_index,
                                                   search_ivf_index)
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    idx_dir = tempfile.mkdtemp(prefix="jsonld_ivf_app_") + "/index"
    cents = _ivf_centroids()
    build_ivf_index(emb.where(F.col("vec_id") % 10 != 0), cents, idx_dir)
    append_to_ivf_index(emb.where(F.col("vec_id") % 10 == 0), cents,
                        idx_dir)
    return search_ivf_index(spark, idx_dir, emb, queries, cents, k=10,
                            nprobe=2, oversample=4).select(
        "query_id", "neighbor_id", F.col("sim").cast("double").alias("sim"),
        F.col("rank").cast("long").alias("rank"))


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) language mixture weights — the
    corpus-balancing rule feeding stratified sampling."""
    from jsonld_spark.operators.sampling import mixture_weights
    return mixture_weights(_read(spark, sf_dir, "documents"),
                           group_col="lang", alpha=0.5) \
        .select("grp", "n_docs", "n_tokens",
                F.round("raw_share", 6).alias("raw_share"),
                F.round("weight", 6).alias("weight"),
                F.round("upsample", 6).alias("upsample"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.textstats import fingerprint
    return fingerprint(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# similarity + linking over `embeddings`
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.similarity import cosine_topk
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return cosine_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.col("sim").cast("double").alias("sim"),
        F.col("rank").cast("long").alias("rank"))


def q_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a deterministic chain-edge graph
    (i—i+1 unless i%7==6 → components are groups of 7 consecutive ids):
    exercises the iterative min-label-propagation operator used for
    entity linking (distributed path forced — small graphs would
    otherwise take the driver union-find shortcut). Oracle is the
    closed form 7*floor(id/7)."""
    from jsonld_spark.operators.linking import connected_components
    ids = _read(spark, sf_dir, "embeddings").select("vec_id")
    a = ids.select(F.col("vec_id").alias("src"))
    edges = (a.where(F.col("src") % 7 != 6)
             .join(ids.select(F.col("vec_id").alias("dst")),
                   F.col("dst") == F.col("src") + 1))
    cc = connected_components(edges, small_graph_edges=0)
    return (ids.join(cc, ids.vec_id == cc.node, "left")
            .select(F.col("vec_id").cast("long").alias("node"),
                    F.coalesce(F.col("component"), F.col("vec_id"))
                     .cast("long").alias("component")))


def _lsh_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Fixed-seed hyperplanes, rounded so the same literals embed in both
    the Spark plan and the SQL oracle."""
    import numpy as np
    rs = np.random.RandomState(7)
    return [[round(float(x), 6) for x in row]
            for row in rs.normal(size=(n_planes, dim))]


def _ivf_centroids(k: int = 8, dim: int = 64) -> list[list[float]]:
    """Fixed-seed codebook (stand-in for a trained k-means codebook),
    rounded so the same literals embed in Spark and the SQL oracle."""
    import numpy as np
    rs = np.random.RandomState(11)
    return [[round(float(x), 6) for x in row]
            for row in rs.normal(size=(k, dim))]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: corpus vectors in their nearest centroid's inverted
    list, queries probe 2 lists, exact cosine rerank — the trained-
    codebook scale path complementing LSH (ann_topk)."""
    from jsonld_spark.operators.similarity import ivf_cosine_topk
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    return ivf_cosine_topk(emb, queries, _ivf_centroids(), k=10,
                           nprobe=2).select(
        "query_id", "neighbor_id", F.col("sim").cast("double").alias("sim"),
        F.col("rank").cast("long").alias("rank"))


def q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a LANDED int8 IVF index: build the quantized inverted
    lists (partitioned by list_id), probe with partition pruning,
    int8-prefilter, exact rerank on the full-precision column. Same
    oracle as ivf_topk — the compact path must reproduce the exact IVF
    results bit-for-bit."""
    import tempfile

    from jsonld_spark.operators.similarity import (build_ivf_index,
                                                   search_ivf_index)
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    idx_dir = tempfile.mkdtemp(prefix="jsonld_ivf_idx_") + "/index"
    cents = _ivf_centroids()
    build_ivf_index(emb, cents, idx_dir)
    return search_ivf_index(spark, idx_dir, emb, queries, cents, k=10,
                            nprobe=2, oversample=4).select(
        "query_id", "neighbor_id", F.col("sim").cast("double").alias("sim"),
        F.col("rank").cast("long").alias("rank"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors (the 10^9-vector scale
    path; brute-force cosine_topk is the exact baseline)."""
    from jsonld_spark.operators.similarity import ann_cosine_topk
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return ann_cosine_topk(emb, queries, _lsh_planes(), k=10).select(
        "query_id", "neighbor_id", F.col("sim").cast("double").alias("sim"),
        F.col("rank").cast("long").alias("rank"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media column → Arrow-batched feature
    extraction (decode stubbed deterministically; see
    operators/multimodal.py)."""
    from jsonld_spark.operators.multimodal import (
        extract_media_features, synth_media_from_documents)
    media = synth_media_from_documents(_read(spark, sf_dir, "documents"))
    feats = extract_media_features(media)
    return feats.select(
        "doc_id", "media_ref", "n_bytes", "content_hex",
        *[F.round(F.element_at("feature", i + 1), 9).alias(f"f{i}")
          for i in range(4)])


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.textstats import token_count_bpe
    return token_count_bpe(_read(spark, sf_dir, "documents"))


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: emails / IPv4s / long digit runs replaced by [TYPE]
    tokens, per-class counts from the original text."""
    from jsonld_spark.operators.textstats import redact_pii
    return redact_pii(_read(spark, sf_dir, "documents")) \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "n_email", "n_ipv4", "n_number", "redacted")


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: drop lines shared by more than
    max_docs documents, reassemble the rest in order."""
    from jsonld_spark.operators.textstats import strip_boilerplate
    return strip_boilerplate(_read(spark, sf_dir, "documents"),
                             max_docs=10) \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "clean_text", "n_lines_kept")


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-preprocessing resize plumbing: binary media → (W,H,
    content_hex) through the Arrow-batched kernel (deterministic fake
    codec, SQL-mirrored)."""
    from jsonld_spark.operators.multimodal import (resize_media,
                                                   synth_media_from_documents)
    docs = _read(spark, sf_dir, "documents")
    return resize_media(synth_media_from_documents(docs), 224, 224) \
        .select("doc_id", "media_ref",
                F.col("width").cast("int").alias("width"),
                F.col("height").cast("int").alias("height"), "content_hex")


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one media row fans out to 4 frame
    rows inside the Arrow batch (deterministic fake demuxer)."""
    from jsonld_spark.operators.multimodal import (sample_frames,
                                                   synth_media_from_documents)
    docs = _read(spark, sf_dir, "documents")
    return sample_frames(synth_media_from_documents(docs), 4) \
        .select("doc_id", "media_ref",
                F.col("frame_idx").cast("int").alias("frame_idx"),
                "frame_sig")


def q_token_count_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True BPE under a merge table trained in-engine on the same
    corpus (distributed word count → driver merge loop → Arrow-batched
    encode). Oracle: a landed expected parquet produced by a fully
    independent non-Spark execution of the same public algorithm
    (scripts/gen_bpe_expected.py) — DuckDB can't replay BPE merges but
    can compare landed counts."""
    from jsonld_spark.operators.textstats import (token_count_vocab,
                                                  train_bpe)
    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=200)
    return token_count_vocab(docs, merges) \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.col("n_vocab_tokens").cast("long").alias("n_vocab_tokens"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonld_spark.operators.textstats import quality_score
    return quality_score(_read(spark, sf_dir, "documents"))


def q_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking over doc triples: sameAs chain edges group docs in
    runs of 5 consecutive ids; subjects rewritten to the component
    canonical IRI. Oracle is the closed form 5*floor(id/5)."""
    from jsonld_spark.operators.linking import (connected_components,
                                                link_triples)
    from jsonld_spark.sources.interleaved import DOC_IRI_PREFIX
    triples = q_jsonld_doc_triples(spark, sf_dir)
    ids = (_read(spark, sf_dir, "documents")
           .select(F.col("doc_id").cast("long").alias("id")))
    iri = lambda c: F.concat(F.lit(DOC_IRI_PREFIX), c.cast("string"))  # noqa: E731
    edges = (ids.where(F.col("id") % 5 != 4)
             .join(ids.select(F.col("id").alias("id2")),
                   F.col("id2") == F.col("id") + 1)
             .select(iri(F.col("id")).alias("src"),
                     iri(F.col("id2")).alias("dst")))
    comps = connected_components(edges)
    linked = link_triples(triples, comps)
    return (linked.where(F.col("pred") == "http://schema.org/text")
            .select("doc_id", "subj"))


# ---------------------------------------------------------------------------
# relational-operator checklist (SURVEY.md §2.3) over TPC-H-ish tables
# ---------------------------------------------------------------------------

def q_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1995-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty"),
                 F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       .cast("decimal(18,4)"))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_rows")))


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    rev = (li.groupBy("l_orderkey")
           .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,4)")).alias("rev_d")))
    j = orders.join(rev, orders.o_orderkey == rev.l_orderkey)
    w = Window.orderBy(F.desc("rev_d"), F.asc("o_orderkey"))
    return (j.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    F.col("rev_d").cast("double").alias("revenue"),
                    F.col("rn").cast("long").alias("rn")))


def q_region_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join enrichment: customer → nation → region rollup."""
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (cust
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                 .cast("double").alias("total_acctbal")))


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w)
         .cast("double").alias("running_value"))


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) — set-op checklist entry."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    "c_name"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's correctness gate checks the FIRST
    # 50 entries. Rotation policy (round 5+): never-driver-verified
    # queries first, then queries whose engine code changed this round,
    # then the core surface; long-stable rows (hash-matched in two or
    # more prior rounds with unchanged queries) rotate to the tail and
    # cycle back through the window in later rounds.
    return {
        # -- never driver-verified before round 5 --
        "sparql_text": q_sparql_text,
        "sparql_optional_group": q_sparql_optional_group,
        "sparql_not_exists_max": q_sparql_not_exists_max,
        "bgp_star_encoded": q_bgp_star_encoded,
        "shacl_report": q_shacl_report,
        "kg_paths": q_kg_paths,
        "span_dedup": q_span_dedup,
        "mixture_weights": q_mixture_weights,
        # -- new in round 5 --
        "kg_path_ops": q_kg_path_ops,
        "kg_path_neg": q_kg_path_neg,
        "kg_path_graph": q_kg_path_graph,
        "bgp_values": q_bgp_values,
        "same_as_fuse": q_same_as_fuse,
        "ivf_index_append": q_ivf_index_append,
        "bgp_optional_chain": q_bgp_optional_chain,
        "bgp_path_pattern": q_bgp_path_pattern,
        "sparql_subquery": q_sparql_subquery,
        "construct_union": q_construct_union,
        "construct_bnode": q_construct_bnode,
        "sparql_union_join": q_sparql_union_join,
        "sparql_typed": q_sparql_typed,
        "sparql_optional_union": q_sparql_optional_union,
        "sparql_nested_optional": q_sparql_nested_optional,
        "sparql_optional_body": q_sparql_optional_body,
        "sparql_optional_subquery": q_sparql_optional_subquery,
        "sparql_filter_exists": q_sparql_filter_exists,
        "sparql_union_filter": q_sparql_union_filter,
        "sparql_double_neg": q_sparql_double_neg,
        "sparql_from": q_sparql_from,
        "sparql_datetime": q_sparql_datetime,
        "sparql_optional_correlated": q_sparql_optional_correlated,
        "sparql_exists_subquery": q_sparql_exists_subquery,
        # -- engine code touched in round 5 (context clone, bgp_match,
        #    rdfs/owl kind gates, property_path reflexive semantics) --
        "jsonld_doc_triples": q_jsonld_doc_triples,
        "error_isolation": q_error_isolation,  # 2+ rounds green but the
        # pipeline error-column contract deserves a standing row
        "rdfs_entail": q_rdfs_entail,
        "owl_entail": q_owl_entail,
        "bgp_star": q_bgp_star,
        "bgp_union": q_bgp_union,
        "bgp_not_exists": q_bgp_not_exists,
        "bgp_graph": q_bgp_graph,
        "construct_media": q_construct_media,
        "describe_doc": q_describe_doc,
        "kg_incremental": q_kg_incremental,
        "entity_link": q_entity_link,
        # -- core LLM-pipeline surface --
        "simhash_neardup_reps": q_simhash_neardup_reps,
        "decontaminate": q_decontaminate,
        "embedding_neardup_hi": q_embedding_neardup_hi,
        "embedding_incremental": q_embedding_incremental,
        "streaming_sessions": q_streaming_sessions,
        "bgp_exists_minus": q_bgp_exists_minus,
        # ---- driver window ends here (50 entries above) ----
        # -- long-stable rows rotated out this round (hash-matched in
        #    two or more prior rounds; queries unchanged;
        #    nquads_media_lines is subsumed by nquads_roundtrip, whose
        #    serializer path it shares; flatten_docs rotated out for
        #    kg_path_graph, compact_docs for sparql_union_filter,
        #    nquads_roundtrip for sparql_double_neg, bgp_agg (r4 green,
        #    unchanged; GROUP BY covered by sparql_text/bgp_star rows)
        #    for sparql_from; canonicalize_anon (hash-matched r2+r3+r4,
        #    canonicalization code untouched this round) for
        #    sparql_datetime) --
        "canonicalize_anon": q_canonicalize_anon,
        "bgp_agg": q_bgp_agg,
        "flatten_docs": q_flatten_docs,
        "compact_docs": q_compact_docs,
        "nquads_roundtrip": q_nquads_roundtrip,
        "nquads_media_lines": q_nquads_media_lines,
        "streaming_user_totals": q_streaming_user_totals,
        "minhash_pairs": q_minhash_pairs,
        "doc_stats": q_doc_stats,
        "doc_repetition": q_doc_repetition,
        "embedding_neardup": q_embedding_neardup,
        "event_sessions": q_event_sessions,
        "graph_degrees": q_graph_degrees,
        "corpus_profile": q_corpus_profile,
        "hash_sample": q_hash_sample,
        "stratified_sample": q_stratified_sample,
        "curate_corpus": q_curate_corpus,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "predicate_histogram": q_predicate_histogram,
        "top_hubs": q_top_hubs,
        "pagerank": q_pagerank,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "cosine_topk": q_cosine_topk,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "media_features": q_media_features,
        "token_count_bpe": q_token_count_bpe,
        "token_count_vocab": q_token_count_vocab,
        "media_resize": q_media_resize,
        "redact_pii": q_redact_pii,
        "strip_boilerplate": q_strip_boilerplate,
        "media_frames": q_media_frames,
        "streaming_triples": q_streaming_triples,
        "ivf_index_topk": q_ivf_index_topk,
        "quality_score": q_quality_score,
        "cc_components": q_cc_components,
        "lineitem_agg": q_lineitem_agg,
        "top_orders": q_top_orders,
        "region_customer_counts": q_region_customer_counts,
        "window_running": q_window_running,
        "customers_without_orders": q_customers_without_orders,
        # rotated to the tail round 5 (hash-matched 2+ rounds,
        # queries unchanged):
        "minhash_incremental": q_minhash_incremental,
        "dedup_clusters": q_dedup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "embedding_clusters": q_embedding_clusters,
        "minhash_word_pairs": q_minhash_word_pairs,
        "dedup_exact": q_dedup_exact,
        "subject_stats": q_subject_stats,
        "hetero_compact": q_hetero_compact,
        "frame_docs": q_frame_docs,
        "fromrdf_docs": q_fromrdf_docs,
        "bgp_optional": q_bgp_optional,
        "bgp_filter": q_bgp_filter,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_DOC_TRIPLES_ORACLE = f"""
WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
SELECT 'doc-'||doc_id AS doc_id, '@default' AS graph,
       'http://example.org/doc/'||doc_id AS subj,
       'http://schema.org/text' AS pred, 'literal' AS obj_kind,
       text AS obj_value, '{XSD}string' AS obj_datatype,
       NULL AS obj_lang
FROM base WHERE text IS NOT NULL
UNION ALL
SELECT 'doc-'||doc_id, '@default', 'http://example.org/doc/'||doc_id,
       'http://schema.org/inLanguage', 'literal', lang, '{XSD}string', NULL
FROM base WHERE lang IS NOT NULL
UNION ALL
SELECT 'doc-'||doc_id, '@default', 'http://example.org/doc/'||doc_id,
       'http://purl.org/dc/terms/source', 'literal', source, '{XSD}string', NULL
FROM base WHERE source IS NOT NULL
UNION ALL
SELECT 'doc-'||doc_id, '@default', 'http://example.org/doc/'||doc_id,
       'http://example.org/nChars', 'literal', CAST(n_chars AS VARCHAR),
       '{XSD}integer', NULL
FROM base WHERE n_chars IS NOT NULL
UNION ALL
SELECT 'doc-'||doc_id, '@default', 'http://example.org/doc/'||doc_id,
       'http://schema.org/associatedMedia', 'iri',
       'https://media.example/img/'||doc_id||'.jpg', NULL, NULL
FROM base
"""

_NQ_MEDIA_ORACLE = """
SELECT 'doc-'||doc_id AS doc_id,
       '<http://example.org/doc/'||doc_id||'> '
       || '<http://schema.org/associatedMedia> '
       || '<https://media.example/img/'||doc_id||'.jpg> .' AS nq
FROM documents
"""

def _lang_pieces() -> tuple[list[str], str, str]:
    """SQL building blocks mirroring ``textstats.lang_id``, generated
    from the SAME ``LANG_PROBES`` dict — one source of truth for the
    27-language stopword profiles, so widening the model can never
    desync the oracle. Returns (langs, score-column SQL over ``lt`` =
    lowered text / ``toks`` = its space-split tokens, lang_pred CASE
    over the score columns). Space-padded probes score by token
    membership, bare (CJK) probes by substring occurrences — identical
    to ``textstats._lang_scores``. Tie-break = language-code order,
    all-zero → 'und', identical to the Spark when-chain."""
    from jsonld_spark.operators.textstats import LANG_PROBES
    langs = sorted(LANG_PROBES)

    def _score(probes: list[str]) -> str:
        words = [p.strip() for p in probes if p.startswith(" ")]
        subs = [p for p in probes if not p.startswith(" ")]
        parts = []
        if words:
            inlist = ", ".join(f"'{w}'" for w in words)
            parts.append(
                f"CAST(len(list_filter(toks, t -> t IN ({inlist}))) "
                f"AS BIGINT)")
        parts += [
            f"CAST((length(lt) - length(replace(lt, '{p}', ''))) "
            f"/ {len(p)} AS BIGINT)" for p in subs]
        return " + ".join(parts)

    score = {lang: _score(LANG_PROBES[lang]) for lang in langs}
    cols = ",\n         ".join(f"{score[la]} AS score_{la}" for la in langs)
    best = "greatest(" + ", ".join(f"score_{la}" for la in langs) + ")"
    case = [f"CASE WHEN nt THEN 'und'"
            f" WHEN {best} = 0 THEN 'und'"]
    case += [f"            WHEN score_{la} = {best} THEN '{la}'"
             for la in langs[:-1]]
    case.append(f"            ELSE '{langs[-1]}' END AS lang_pred")
    return langs, cols, "\n".join(case)


def _lang_oracle() -> str:
    langs, cols, case = _lang_pieces()
    score_sel = ", ".join(f"score_{la}" for la in langs)
    return f"""
WITH tt AS (SELECT doc_id, lower(text) AS lt, (text IS NULL) AS nt,
                   string_split(lower(text), ' ') AS toks FROM documents),
s AS (SELECT doc_id, nt, {cols} FROM tt)
SELECT doc_id, {case}, {score_sel} FROM s
"""


_LANG_ORACLE = _lang_oracle()

_COSINE_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[],
                                      q.query_vec::DOUBLE[]), 4) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


_CANON_ORACLE = f"""
WITH lines AS (
  SELECT doc_id, text, lang, source, n_chars,
    list_sort(list_filter([
      CASE WHEN text IS NOT NULL THEN
        '_:c14n0 <http://schema.org/text> "'||text||'" .' END,
      CASE WHEN lang IS NOT NULL THEN
        '_:c14n0 <http://schema.org/inLanguage> "'||lang||'" .' END,
      CASE WHEN source IS NOT NULL THEN
        '_:c14n0 <http://purl.org/dc/terms/source> "'||source||'" .' END,
      CASE WHEN n_chars IS NOT NULL THEN
        '_:c14n0 <http://example.org/nChars> "'||CAST(n_chars AS VARCHAR)
        ||'"^^<{XSD}integer> .' END
    ], x -> x IS NOT NULL)) AS ls
  FROM documents),
labeled AS (
  SELECT *, row_number() OVER (
    ORDER BY sha256(list_aggregate(
      list_transform(ls, l -> l||chr(10)), 'string_agg', ''))) - 1 AS lbl
  FROM lines WHERE len(ls) > 0)
SELECT '@default' AS graph, '_:c14n'||lbl AS subj,
       'http://schema.org/text' AS pred, 'literal' AS obj_kind,
       text AS obj_value, '{XSD}string' AS obj_datatype, NULL AS obj_lang
FROM labeled WHERE text IS NOT NULL
UNION ALL
SELECT '@default', '_:c14n'||lbl, 'http://schema.org/inLanguage', 'literal',
       lang, '{XSD}string', NULL
FROM labeled WHERE lang IS NOT NULL
UNION ALL
SELECT '@default', '_:c14n'||lbl, 'http://purl.org/dc/terms/source',
       'literal', source, '{XSD}string', NULL
FROM labeled WHERE source IS NOT NULL
UNION ALL
SELECT '@default', '_:c14n'||lbl, 'http://example.org/nChars', 'literal',
       CAST(n_chars AS VARCHAR), '{XSD}integer', NULL
FROM labeled WHERE n_chars IS NOT NULL
"""


# cross-engine 32-bit hash (jsonld_spark.operators.dedup.h32)
def _hx(expr: str, seed: int) -> str:
    return f"('0x'||substr(md5({expr}||'#{seed}'),1,8))::BIGINT"


# mirrors jsonld_spark.operators.dedup: base h32 per shingle, k affine
# rehashes (A_k·h + B_k) mod P, min per k
_MH_P = 4294967311
_MINHASH_MINS = [
    ("m%d" % k,
     f"list_min(list_transform(hs, h -> (h*{2 * k + 1} + {k * k + 7})"
     f" % {_MH_P}))")
    for k in range(16)]

_MINHASH_BANDS = [
    "md5(" + "||','||".join(f"CAST(m{k} AS VARCHAR)"
                            for k in range(b * 4, b * 4 + 4)) + ")"
    for b in range(4)]

_MINHASH_ORACLE = f"""
WITH bh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text)-4,1)+1),
                        i -> {_hx('substr(text,i,5)', 0)}) AS hs
  FROM documents),
sig AS (
  SELECT doc_id, {', '.join(f'{e} AS {n}' for n, e in _MINHASH_MINS)}
  FROM bh),
banded AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {bh} AS band_hash FROM sig"
                      for b, bh in enumerate(_MINHASH_BANDS))})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""

_MINHASH_INCR_ORACLE = f"""
WITH bh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text)-4,1)+1),
                        i -> {_hx('substr(text,i,5)', 0)}) AS hs
  FROM documents),
sig AS (
  SELECT doc_id, {', '.join(f'{e} AS {n}' for n, e in _MINHASH_MINS)}
  FROM bh),
banded AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {bh} AS band_hash FROM sig"
                      for b, bh in enumerate(_MINHASH_BANDS))})
SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
FROM banded c JOIN banded n
  ON c.band = n.band AND c.band_hash = n.band_hash
WHERE c.doc_id % 4 <> 0 AND n.doc_id % 4 = 0
"""

_MINHASH_WORD_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(
             range(1, greatest(len(toks)-2, 1)+1),
             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]))
         ELSE [array_to_string(toks, ' ')] END AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
bh AS (
  SELECT doc_id, list_transform(grams, s -> {_hx('s', 0)}) AS hs FROM g),
sig AS (
  SELECT doc_id, {', '.join(f'{e} AS {n}' for n, e in _MINHASH_MINS)}
  FROM bh),
banded AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {bh} AS band_hash FROM sig"
                      for b, bh in enumerate(_MINHASH_BANDS))})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""

_SIMHASH_NEARDUP_ORACLE = """
WITH s AS ({sim}),
banded AS (
  SELECT doc_id, simhash, 0 AS band, (simhash >> 0) & 255 AS val FROM s
  UNION ALL
  SELECT doc_id, simhash, 1, (simhash >> 8) & 255 FROM s
  UNION ALL
  SELECT doc_id, simhash, 2, (simhash >> 16) & 255 FROM s
  UNION ALL
  SELECT doc_id, simhash, 3, (simhash >> 24) & 255 FROM s),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sa,
                  b.doc_id AS id_b, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""

_SIMHASH_REPS_ORACLE = """
WITH s AS ({sim}),
g AS (SELECT simhash, min(doc_id) AS rep, count(*) AS group_n
      FROM s GROUP BY simhash),
banded AS (
  SELECT simhash, 0 AS band, (simhash >> 0) & 255 AS val FROM g
  UNION ALL
  SELECT simhash, 1, (simhash >> 8) & 255 FROM g
  UNION ALL
  SELECT simhash, 2, (simhash >> 16) & 255 FROM g
  UNION ALL
  SELECT simhash, 3, (simhash >> 24) & 255 FROM g),
cand AS (
  SELECT DISTINCT a.simhash AS hash_a, b.simhash AS hash_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.val = b.val AND a.simhash < b.simhash),
hp AS (
  SELECT hash_a, hash_b,
         CAST(bit_count(xor(hash_a, hash_b)) AS BIGINT) AS hamming
  FROM cand WHERE bit_count(xor(hash_a, hash_b)) <= 3)
SELECT hp.hash_a, hp.hash_b, ga.rep AS rep_a, gb.rep AS rep_b,
       ga.group_n AS n_a, gb.group_n AS n_b, hp.hamming
FROM hp JOIN g ga ON ga.simhash = hp.hash_a
        JOIN g gb ON gb.simhash = hp.hash_b
"""


_DOC_REPETITION_ORACLE = """
WITH base AS (
  SELECT doc_id, string_split(text, chr(10)) AS rawlines,
         list_filter(regexp_split_to_array(text, '\s+'),
                     x -> x <> '') AS words
  FROM documents),
fr AS (
  SELECT doc_id,
         round(1.0 - len(list_distinct(list_transform(rawlines,
               x -> trim(x)))) / CAST(len(rawlines) AS DOUBLE), 6)
           AS dup_line_frac,
         round(1.0 - len(list_distinct(words))
               / CAST(len(words) AS DOUBLE), 6) AS dup_word_frac
  FROM base),
w AS (SELECT doc_id, unnest(words) AS word FROM base),
c AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY doc_id, word),
t AS (SELECT doc_id, round(max(n) / CAST(sum(n) AS DOUBLE), 6)
             AS top_word_frac
      FROM c GROUP BY doc_id)
SELECT fr.doc_id, fr.dup_line_frac, fr.dup_word_frac, t.top_word_frac
FROM fr JOIN t USING (doc_id)
"""

_DECONTAMINATE_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(
             range(1, greatest(len(toks)-2, 1)+1),
             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]))
         ELSE [array_to_string(toks, ' ')] END AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g
          WHERE doc_id % 101 = 0),
corp AS (SELECT doc_id, unnest(grams) AS gram FROM g
         WHERE doc_id % 101 <> 0),
hits AS (SELECT DISTINCT doc_id, gram FROM corp JOIN bench USING (gram))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM hits GROUP BY doc_id HAVING count(*) >= 1
"""


def _kg_schema_values() -> str:
    """The shared schema literal as SQL VALUES rows."""
    return ",\n  ".join(f"('{s}', '{p}', '{o}')"
                        for s, p, o in _kg_schema_rows())


def _rdfs_entail_oracle() -> str:
    """Independent RDFS-entailment derivation: WITH RECURSIVE closures
    over the same schema VALUES, rule joins in plain SQL."""
    from jsonld_spark.operators.kg import (DOMAIN, RANGE, RDF_TYPE,
                                           SUB_CLASS, SUB_PROP)
    return f"""
WITH
t0 AS MATERIALIZED ({_DOC_TRIPLES_ORACLE}),
t AS MATERIALIZED (
  SELECT subj, pred, obj_value, obj_kind FROM t0
  UNION ALL
  SELECT '{_KG_EX}doc/'||doc_id, '{RDF_TYPE}',
         '{_KG_EX}class/C'||(doc_id % 8), 'iri'
  FROM documents),
sch(s, p, o) AS (VALUES {_kg_schema_values()}),
pclo AS MATERIALIZED (
  WITH RECURSIVE r(sub, sup) AS (
    SELECT s, o FROM sch WHERE p = '{SUB_PROP}'
    UNION
    SELECT r.sub, e.o FROM r
    JOIN sch e ON e.p = '{SUB_PROP}' AND r.sup = e.s)
  SELECT sub, sup FROM r),
cclo AS MATERIALIZED (
  WITH RECURSIVE r(sub, sup) AS (
    SELECT s, o FROM sch WHERE p = '{SUB_CLASS}'
    UNION
    SELECT r.sub, e.o FROM r
    JOIN sch e ON e.p = '{SUB_CLASS}' AND r.sup = e.s)
  SELECT sub, sup FROM r),
dom AS (
  SELECT s AS prop, o AS cls FROM sch WHERE p = '{DOMAIN}'
  UNION
  SELECT pc.sub, d.o FROM pclo pc
  JOIN sch d ON d.s = pc.sup AND d.p = '{DOMAIN}'),
rng AS (
  SELECT s AS prop, o AS cls FROM sch WHERE p = '{RANGE}'
  UNION
  SELECT pc.sub, d.o FROM pclo pc
  JOIN sch d ON d.s = pc.sup AND d.p = '{RANGE}'),
ent7 AS (SELECT t.subj, pc.sup AS pred, t.obj_value AS obj
         FROM t JOIN pclo pc ON t.pred = pc.sub),
ent2 AS (SELECT t.subj, '{RDF_TYPE}' AS pred, d.cls AS obj
         FROM t JOIN dom d ON t.pred = d.prop),
ent3 AS (SELECT t.obj_value AS subj, '{RDF_TYPE}' AS pred, r.cls AS obj
         FROM t JOIN rng r ON t.pred = r.prop
         WHERE t.obj_kind <> 'literal'),
alltypes AS (
  SELECT subj, obj_value AS obj FROM t WHERE pred = '{RDF_TYPE}'
  UNION ALL SELECT subj, obj FROM ent2
  UNION ALL SELECT subj, obj FROM ent3
  UNION ALL SELECT subj, obj FROM ent7 WHERE pred = '{RDF_TYPE}'),
ent9 AS (SELECT ty.subj, '{RDF_TYPE}' AS pred, cc.sup AS obj
         FROM alltypes ty JOIN cclo cc ON ty.obj = cc.sub)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT * FROM ent7
  UNION ALL SELECT * FROM ent2
  UNION ALL SELECT * FROM ent3
  UNION ALL SELECT * FROM ent9
  UNION ALL SELECT sub, '{SUB_PROP}' AS pred, sup FROM pclo
  UNION ALL SELECT sub, '{SUB_CLASS}' AS pred, sup FROM cclo)
"""


_BGP_STAR_ORACLE = f"""
WITH t AS MATERIALIZED ({_DOC_TRIPLES_ORACLE}),
m AS (SELECT subj AS d, obj_value AS media FROM t
      WHERE pred = 'http://schema.org/associatedMedia'),
l AS (SELECT subj AS d, obj_value AS lang FROM t
      WHERE pred = 'http://schema.org/inLanguage'),
s AS (SELECT subj AS d, obj_value AS src FROM t
      WHERE pred = 'http://purl.org/dc/terms/source')
SELECT DISTINCT d, media, lang, src
FROM m JOIN l USING (d) JOIN s USING (d)
"""

_SPAN_DEDUP_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
spl AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(words) / 10.0) AS BIGINT)),
           i -> array_to_string(
                  words[(CAST(i AS INT)*10+1):(CAST(i AS INT)*10+10)],
                  ' ')) AS spans
  FROM w),
sp AS (
  SELECT doc_id,
         CAST(unnest(range(0, len(spans))) AS INT) AS pos,
         unnest(spans) AS span
  FROM spl),
k AS (SELECT doc_id, pos, span,
             row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, pos) AS rn
      FROM sp),
agg AS (SELECT doc_id,
               CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_spans_kept,
               string_agg(span, ' ' ORDER BY pos)
                 FILTER (rn = 1) AS clean_text
        FROM k GROUP BY doc_id)
SELECT d.doc_id,
       CAST(ceil(len(string_split(d.text, ' ')) / 10.0) AS BIGINT)
         AS n_spans,
       coalesce(a.n_spans_kept, 0) AS n_spans_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

_SPARQL_TEXT_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
l AS (SELECT subj AS d, obj_value AS lang FROM t
      WHERE pred = 'http://schema.org/inLanguage'),
m AS (SELECT subj AS d, obj_value AS m FROM t
      WHERE pred = 'http://schema.org/associatedMedia'),
r AS (SELECT '{_KG_EX}doc/' || doc_id AS d,
             '{_KG_EX}reviewer/' || (doc_id % 5) AS r
      FROM documents WHERE doc_id % 3 = 0),
sol AS (SELECT DISTINCT l.d, l.lang, m.m, r.r
        FROM l JOIN m USING (d) LEFT JOIN r USING (d))
SELECT lang, CAST(count(DISTINCT d) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT r) AS BIGINT) AS n_reviewers
FROM sol GROUP BY lang
ORDER BY n_docs DESC, lang
"""

_SPARQL_NOT_EXISTS_MAX_ORACLE = """
WITH t AS MATERIALIZED ({0}),
s AS (SELECT subj AS d, obj_value AS src FROM t
      WHERE pred = 'http://purl.org/dc/terms/source'),
n AS (SELECT subj AS d, obj_value AS n FROM t
      WHERE pred = 'http://example.org/nChars'),
sol AS (SELECT DISTINCT s.src, s.d, n.n FROM s JOIN n USING (d))
SELECT src, d, n FROM sol o
WHERE NOT EXISTS (SELECT 1 FROM sol i WHERE i.src = o.src
                  AND CAST(i.n AS BIGINT) > CAST(o.n AS BIGINT))
"""

_SPARQL_SUBQUERY_ORACLE = """
WITH t AS MATERIALIZED ({0}),
s AS (SELECT DISTINCT subj AS d, obj_value AS src FROM t
      WHERE pred = 'http://purl.org/dc/terms/source'),
c AS (SELECT src, CAST(count(*) AS BIGINT) AS nd FROM s GROUP BY src),
m AS (SELECT max(nd) AS mx FROM c)
SELECT s.src, s.d, c.nd
FROM s JOIN c USING (src), m WHERE c.nd = m.mx
"""

_SPARQL_TYPED_ORACLE = """
WITH t AS MATERIALIZED ({0}),
d AS (SELECT DISTINCT subj, pred, obj_value, obj_kind, obj_lang,
             obj_datatype
      FROM t WHERE obj_kind = 'literal')
SELECT CASE WHEN obj_lang IS NOT NULL
            THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'
            ELSE COALESCE(obj_datatype,
                          'http://www.w3.org/2001/XMLSchema#string')
       END AS dt,
       CAST(count(*) AS BIGINT) AS n
FROM d GROUP BY dt ORDER BY dt
"""

_CONSTRUCT_UNION_ORACLE = """
WITH t AS MATERIALIZED ({0}),
b1 AS (SELECT s.subj, 'http://example.org/connected' AS pred,
              s.obj_value
       FROM t s WHERE s.pred = 'http://purl.org/dc/terms/source'
         AND EXISTS (SELECT 1 FROM t n WHERE n.subj = s.subj
                     AND n.pred = 'http://example.org/nChars')),
b2 AS (SELECT subj, 'http://example.org/connected' AS pred, obj_value
       FROM t WHERE pred = 'http://schema.org/associatedMedia')
SELECT DISTINCT subj, pred, obj_value
FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
"""

_SPARQL_UNION_JOIN_ORACLE = """
WITH t AS MATERIALIZED ({0}),
n AS (SELECT DISTINCT subj AS d FROM t
      WHERE pred = 'http://example.org/nChars'),
u AS (SELECT subj AS d, obj_value AS o FROM t
      WHERE pred = 'http://purl.org/dc/terms/source'
      UNION
      SELECT subj, obj_value FROM t
      WHERE pred = 'http://schema.org/associatedMedia')
SELECT DISTINCT n.d AS d, u.o AS o FROM n JOIN u USING (d)
"""

_SPARQL_UNION_FILTER_ORACLE = """
WITH t AS MATERIALIZED ({0})
SELECT DISTINCT d, o FROM (
  SELECT s.subj AS d, s.obj_value AS o FROM t s
  WHERE s.pred = 'http://purl.org/dc/terms/source'
    AND s.obj_value LIKE 'src1%'
    AND EXISTS (SELECT 1 FROM t l WHERE l.subj = s.subj
                AND l.pred = 'http://schema.org/inLanguage'
                AND l.obj_value = 'en')
  UNION
  SELECT m.subj, m.obj_value FROM t m
  WHERE m.pred = 'http://schema.org/associatedMedia'
    AND EXISTS (SELECT 1 FROM t l WHERE l.subj = m.subj
                AND l.pred = 'http://schema.org/inLanguage'
                AND l.obj_value = 'de'))
"""

_SPARQL_DOUBLE_NEG_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
rev AS (SELECT '{_KG_EX}doc/' || doc_id AS d
        FROM documents WHERE doc_id % 3 = 0)
SELECT DISTINCT o.subj AS d FROM t o
WHERE o.pred = '{_KG_EX}nChars'
  AND NOT EXISTS (
    SELECT 1 FROM t m WHERE m.subj = o.subj
      AND m.pred = 'http://schema.org/associatedMedia'
      AND NOT EXISTS (SELECT 1 FROM rev WHERE rev.d = m.subj))
"""

_SPARQL_FROM_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
tg AS (SELECT t.subj, t.pred, t.obj_value,
              '{_KG_EX}g/' || d.source AS graph
       FROM t JOIN documents d
         ON CAST(regexp_extract(t.doc_id, '([0-9]+)', 1) AS BIGINT)
            = d.doc_id)
SELECT DISTINCT subj AS d, obj_value AS l FROM tg
WHERE pred = 'http://schema.org/inLanguage'
  AND graph IN ('{_KG_EX}g/src1', '{_KG_EX}g/src2')
"""

_SPARQL_OPT_UNION_ORACLE = """
WITH t AS MATERIALIZED ({0}),
n AS (SELECT DISTINCT subj AS d FROM t
      WHERE pred = 'http://example.org/nChars'),
u AS (SELECT s.subj AS d, s.obj_value AS o FROM t s
      WHERE s.pred = 'http://purl.org/dc/terms/source'
        AND EXISTS (SELECT 1 FROM t l WHERE l.subj = s.subj
                    AND l.pred = 'http://schema.org/inLanguage'
                    AND l.obj_value = 'en')
      UNION
      SELECT m.subj, m.obj_value FROM t m
      WHERE m.pred = 'http://schema.org/associatedMedia'
        AND EXISTS (SELECT 1 FROM t l WHERE l.subj = m.subj
                    AND l.pred = 'http://schema.org/inLanguage'
                    AND l.obj_value = 'de')),
f AS (SELECT * FROM u WHERE o <> 'src3')
SELECT n.d AS d, f.o AS o FROM n LEFT JOIN f USING (d)
"""

_SPARQL_FILTER_EXISTS_ORACLE = """
WITH t AS MATERIALIZED ({0}),
l AS (SELECT DISTINCT subj AS d, obj_value AS l FROM t
      WHERE pred = 'http://schema.org/inLanguage')
SELECT l.d AS d, l.l AS l FROM l
WHERE l.l = 'de'
   OR EXISTS (SELECT 1 FROM t s WHERE s.subj = l.d
              AND s.pred = 'http://purl.org/dc/terms/source'
              AND s.obj_value = 'src3')
"""

_SPARQL_OPT_SUBQ_ORACLE = """
WITH t AS MATERIALIZED ({0}),
s AS (SELECT subj AS d, obj_value AS src FROM t
      WHERE pred = 'http://purl.org/dc/terms/source'),
c AS (SELECT s2.obj_value AS src,
             CAST(COUNT(DISTINCT s2.subj) AS BIGINT) AS n
      FROM t s2 JOIN t l ON l.subj = s2.subj
      WHERE s2.pred = 'http://purl.org/dc/terms/source'
        AND l.pred = 'http://schema.org/inLanguage'
        AND l.obj_value = 'en'
      GROUP BY s2.obj_value)
SELECT s.d AS d, s.src AS src, c.n AS n FROM s LEFT JOIN c USING (src)
"""

_SPARQL_OPT_BODY_ORACLE = """
WITH t AS MATERIALIZED ({0}),
n AS (SELECT DISTINCT subj AS d FROM t
      WHERE pred = 'http://schema.org/inLanguage'),
g AS (SELECT s.subj AS d, s.obj_value AS src,
             upper(s.obj_value) AS tag
      FROM t s
      WHERE s.pred = 'http://purl.org/dc/terms/source'
        AND NOT EXISTS (SELECT 1 FROM t x
                        WHERE x.subj = s.subj
                          AND x.pred = 'http://schema.org/inLanguage'
                          AND x.obj_value = 'de'))
SELECT n.d AS d, g.src AS src, g.tag AS tag
FROM n LEFT JOIN g USING (d)
"""

_SPARQL_NESTED_OPT_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
m AS (SELECT DISTINCT subj AS d FROM t
      WHERE pred = 'http://schema.org/associatedMedia'),
r AS (SELECT DISTINCT '{_KG_EX}doc/' || doc_id AS d,
             '{_KG_EX}reviewer/' || (doc_id % 5) AS rev
      FROM documents WHERE doc_id % 3 = 0),
w AS (SELECT '{_KG_EX}reviewer/' || k AS rev,
             '{_KG_EX}org/' || (k % 2) AS org
      FROM (VALUES (0), (1), (2)) v(k)),
-- the group is evaluated as a unit: reviewer LEFT JOIN org FIRST,
-- then the whole group left-joins the media docs (a doc with no
-- reviewer keeps rev AND org null — no bind-once leak)
g AS (SELECT r.d, r.rev, w.org FROM r LEFT JOIN w ON r.rev = w.rev)
SELECT m.d AS d, g.rev AS rev, g.org AS org
FROM m LEFT JOIN g USING (d)
"""

_CONSTRUCT_BNODE_ORACLE = """
WITH t AS MATERIALIZED ({0}),
s AS (SELECT DISTINCT subj AS d, obj_value AS src FROM t
      WHERE pred = 'http://purl.org/dc/terms/source'),
m AS (SELECT d, src,
             '_:m' || md5('_bn_z|' ||
                          length(d)::VARCHAR || ':' || d || '|' ||
                          length(src)::VARCHAR || ':' || src) AS node
      FROM s)
SELECT DISTINCT subj, pred, obj_value FROM (
  SELECT node AS subj, 'http://example.org/citation' AS pred,
         d AS obj_value FROM m
  UNION ALL
  SELECT node, 'http://example.org/src', src FROM m)
"""

_SPARQL_OPT_GROUP_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
l AS (SELECT DISTINCT subj AS d FROM t
      WHERE pred = 'http://schema.org/inLanguage'),
r AS (SELECT '{_KG_EX}doc/' || doc_id AS d,
             '{_KG_EX}reviewer/' || (doc_id % 5) AS r
      FROM documents WHERE doc_id % 3 = 0),
lv AS (SELECT '{_KG_EX}reviewer/' || i AS r,
              CASE WHEN i % 2 = 0 THEN 'senior' ELSE 'junior' END AS lvl
       FROM range(3) tbl(i)),
grp AS (SELECT r.d, r.r, lv.lvl
        FROM r JOIN lv USING (r) WHERE lv.lvl <> 'junior')
SELECT l.d, grp.r, grp.lvl
FROM l LEFT JOIN grp USING (d)
"""

_SPARQL_OPT_CORR_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
nc AS (SELECT subj AS d, obj_value AS n FROM t
       WHERE pred = '{_KG_EX}nChars'),
rv AS (SELECT '{_KG_EX}doc/' || doc_id AS d,
              '{_KG_EX}reviewer/' || (doc_id % 5) AS r,
              (doc_id % 5) * 300 AS mc
       FROM documents WHERE doc_id % 3 = 0)
SELECT nc.d AS d, nc.n AS n, rv.r AS r
FROM nc LEFT JOIN rv
  ON nc.d = rv.d AND CAST(nc.n AS BIGINT) >= rv.mc
"""

_SPARQL_EXISTS_SUBQ_ORACLE = f"""
WITH u AS (SELECT '{_KG_EX}doc/' || doc_id AS d,
                  '{_KG_EX}doc/' || (doc_id // 2) AS p
           FROM documents WHERE doc_id >= 1),
pop AS (SELECT p FROM u GROUP BY p HAVING COUNT(*) >= 2)
SELECT u.d AS d, u.p AS p
FROM u
WHERE EXISTS (SELECT 1 FROM u u2 JOIN pop ON u2.d = pop.p
              WHERE u2.d = u.p)
"""

_BGP_OPTIONAL_ORACLE = f"""
WITH t AS MATERIALIZED ({{doc_triples}}),
m AS (SELECT DISTINCT subj AS d, obj_value AS media FROM t
      WHERE pred = 'http://schema.org/associatedMedia'),
r AS (SELECT DISTINCT '{_KG_EX}doc/' || doc_id AS d,
             '{_KG_EX}reviewer/' || (doc_id % 5) AS reviewer
      FROM documents WHERE doc_id % 3 = 0)
SELECT m.d, m.media, r.reviewer
FROM m LEFT JOIN r ON m.d = r.d
""".replace("{doc_triples}", "{0}")

_DESCRIBE_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
u AS (SELECT '{_KG_EX}doc/' || doc_id AS subj,
             '{_KG_EX}under' AS pred,
             '{_KG_EX}doc/' || (doc_id // 2) AS obj_value
      FROM documents WHERE doc_id >= 1),
allt AS (SELECT subj, pred, obj_value FROM t
         UNION ALL SELECT * FROM u)
SELECT subj, pred, obj_value,
       CASE WHEN subj = '{_KG_EX}doc/21' THEN 'subject'
            ELSE 'object' END AS role
FROM allt
WHERE subj = '{_KG_EX}doc/21' OR obj_value = '{_KG_EX}doc/21'
"""

_BGP_AGG_ORACLE = """
WITH t AS MATERIALIZED ({0}),
l AS (SELECT subj AS d, obj_value AS lang FROM t
      WHERE pred = 'http://schema.org/inLanguage'),
m AS (SELECT subj AS d, obj_value AS m FROM t
      WHERE pred = 'http://schema.org/associatedMedia'),
sol AS (SELECT DISTINCT l.d, l.lang, m.m FROM l JOIN m USING (d))
SELECT lang, CAST(count(DISTINCT d) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT m) AS BIGINT) AS n_media
FROM sol GROUP BY lang
ORDER BY n_docs DESC, lang
"""

_BGP_GRAPH_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
tg AS (SELECT t.subj, t.pred, t.obj_value,
              '{_KG_EX}g/' || d.source AS graph
       FROM t JOIN documents d
         ON CAST(regexp_extract(t.doc_id, '([0-9]+)', 1) AS BIGINT)
            = d.doc_id),
m AS (SELECT DISTINCT subj AS d, obj_value AS media FROM tg
      WHERE pred = 'http://schema.org/associatedMedia'
        AND graph = '{_KG_EX}g/src1'),
l AS (SELECT DISTINCT subj AS d, obj_value AS lang, graph AS g FROM tg
      WHERE pred = 'http://schema.org/inLanguage')
SELECT DISTINCT m.d, m.media, l.lang, l.g
FROM m JOIN l USING (d)
"""

_CONSTRUCT_MEDIA_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
m AS (SELECT DISTINCT subj AS d, obj_value AS media FROM t
      WHERE pred = 'http://schema.org/associatedMedia'),
r AS (SELECT DISTINCT '{_KG_EX}doc/' || doc_id AS d,
             '{_KG_EX}reviewer/' || (doc_id % 5) AS reviewer
      FROM documents WHERE doc_id % 3 = 0)
SELECT DISTINCT * FROM (
  SELECT media AS subj, '{_KG_EX}mediaOf' AS pred, d AS obj_value FROM m
  UNION ALL
  SELECT m.media, '{_KG_EX}checkedBy', r.reviewer FROM m JOIN r USING (d)
)
"""

_BGP_NOT_EXISTS_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
m AS (SELECT DISTINCT subj AS d, obj_value AS media FROM t
      WHERE pred = 'http://schema.org/associatedMedia')
SELECT m.d, m.media FROM m
WHERE m.d NOT IN (SELECT '{_KG_EX}doc/' || doc_id
                  FROM documents WHERE doc_id % 3 = 0)
"""

_OWL_ENTAIL_ORACLE = f"""
WITH t AS MATERIALIZED ({{0}}),
inv AS (SELECT obj_value AS subj, '{_KG_EX}mediaOf' AS pred,
               subj AS obj
        FROM t WHERE pred = 'http://schema.org/associatedMedia'),
sym AS (SELECT '{_KG_EX}doc/' || (doc_id + 1) AS subj,
               '{_KG_EX}sharesTopicWith' AS pred,
               '{_KG_EX}doc/' || doc_id AS obj
        FROM documents WHERE doc_id % 2 = 0),
trans AS (
  SELECT src AS subj, '{_KG_EX}under' AS pred, dst AS obj
  FROM (
    WITH RECURSIVE
    e AS (SELECT '{_KG_EX}doc/' || doc_id AS src,
                 '{_KG_EX}doc/' || (doc_id // 2) AS dst
          FROM documents WHERE doc_id >= 1),
    p(src, dst) AS (
      SELECT src, dst FROM e
      UNION
      SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src)
    SELECT DISTINCT src, dst FROM p))
SELECT DISTINCT subj, pred, obj FROM (
  SELECT * FROM inv UNION ALL SELECT * FROM sym
  UNION ALL SELECT * FROM trans)
"""

_BGP_FILTER_ORACLE = """
WITH t AS MATERIALIZED ({0}),
n AS (SELECT subj AS d, obj_value AS nc FROM t
      WHERE pred = 'http://example.org/nChars'),
l AS (SELECT subj AS d, obj_value AS lang FROM t
      WHERE pred = 'http://schema.org/inLanguage')
SELECT DISTINCT n.d, n.nc, l.lang
FROM n JOIN l USING (d)
WHERE CAST(n.nc AS INT) >= 300
"""

_BGP_UNION_ORACLE = """
WITH t AS MATERIALIZED ({0}),
b1 AS (SELECT DISTINCT subj AS d, CAST(NULL AS VARCHAR) AS src FROM t
       WHERE pred = 'http://purl.org/dc/terms/source'
         AND obj_value = 'src1'),
b2 AS (SELECT DISTINCT g.subj AS d, s.obj_value AS src
       FROM t g JOIN t s
         ON g.subj = s.subj AND s.pred = 'http://purl.org/dc/terms/source'
       WHERE g.pred = 'http://schema.org/inLanguage'
         AND g.obj_value = 'de')
SELECT DISTINCT d, src
FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
"""

_SHACL_ORACLE = """
WITH t0 AS MATERIALIZED ({0}),
tn AS (SELECT t0.*,
              CAST(regexp_extract(doc_id, '([0-9]+)', 1) AS BIGINT) AS n
       FROM t0),
t AS (
  SELECT subj, pred, obj_kind,
         CASE WHEN pred = 'http://schema.org/associatedMedia'
                   AND n % 13 = 0
              THEN regexp_replace(obj_value, '\\.jpg$', '.png')
              ELSE obj_value END AS obj_value
  FROM tn
  WHERE NOT (pred = 'http://schema.org/associatedMedia' AND n % 7 = 0)
  UNION ALL
  SELECT subj, 'http://schema.org/inLanguage', 'literal', 'xx'
  FROM tn WHERE pred = 'http://schema.org/text' AND n % 11 = 0
),
focus AS (SELECT DISTINCT subj AS focus FROM t
          WHERE pred = 'http://schema.org/text'),
media AS (SELECT subj AS focus, obj_value AS value, obj_kind FROM t
          WHERE pred = 'http://schema.org/associatedMedia'),
mcnt AS (SELECT f.focus, count(DISTINCT m.value) AS cnt
         FROM focus f LEFT JOIN media m USING (focus) GROUP BY f.focus),
lang AS (SELECT subj AS focus, obj_value AS value, obj_kind FROM t
         WHERE pred = 'http://schema.org/inLanguage'),
lcnt AS (SELECT f.focus, count(DISTINCT l.value) AS cnt
         FROM focus f LEFT JOIN lang l USING (focus) GROUP BY f.focus)
SELECT DISTINCT * FROM (
  SELECT 'media' AS shape_id, focus, 'minCount' AS constraint_kind,
         CAST(cnt AS VARCHAR) AS value
  FROM mcnt WHERE cnt < 1
  UNION ALL
  SELECT 'media', focus, 'maxCount', CAST(cnt AS VARCHAR)
  FROM mcnt WHERE cnt > 1
  UNION ALL
  SELECT 'media', m.focus, 'nodeKind', m.value
  FROM media m JOIN focus USING (focus) WHERE m.obj_kind <> 'iri'
  UNION ALL
  SELECT 'media', m.focus, 'pattern', m.value
  FROM media m JOIN focus USING (focus)
  WHERE NOT regexp_matches(m.value, '\\.jpg$')
  UNION ALL
  SELECT 'lang', focus, 'maxCount', CAST(cnt AS VARCHAR)
  FROM lcnt WHERE cnt > 1
  UNION ALL
  SELECT 'lang', l.focus, 'nodeKind', l.value
  FROM lang l JOIN focus USING (focus) WHERE l.obj_kind <> 'literal'
)
"""

_KG_PATHS_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT '{_KG_EX}doc/' || doc_id AS src,
             '{_KG_EX}doc/' || (doc_id // 2) AS dst
      FROM documents WHERE doc_id >= 1),
p(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src)
SELECT DISTINCT src, dst FROM p
"""

_KG_PATH_OPS_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT '{_KG_EX}doc/' || doc_id AS src,
             '{_KG_EX}doc/' || (doc_id // 2) AS dst
      FROM documents WHERE doc_id >= 1),
p(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src),
nodes AS (SELECT src AS n FROM e UNION SELECT dst AS n FROM e),
sib AS (SELECT a.src AS src, b.src AS dst
        FROM e a JOIN e b ON a.dst = b.dst)
SELECT DISTINCT src, dst FROM (
  SELECT src, dst FROM sib
  UNION SELECT src, dst FROM p
  UNION SELECT n AS src, n AS dst FROM nodes)
"""

_KG_PATH_NEG_ORACLE = f"""
WITH e AS (
  SELECT '{_KG_EX}doc/' || doc_id AS subj,
         '{_KG_EX}parent' AS pred,
         '{_KG_EX}doc/' || (doc_id // 2) AS obj
  FROM documents WHERE doc_id >= 1
  UNION ALL
  SELECT '{_KG_EX}doc/' || doc_id,
         '{_KG_EX}cites',
         '{_KG_EX}doc/' || (doc_id // 3)
  FROM documents WHERE doc_id >= 3)
SELECT DISTINCT src, dst FROM (
  SELECT subj AS src, obj AS dst FROM e WHERE pred <> '{_KG_EX}cites'
  UNION ALL
  SELECT obj AS src, subj AS dst FROM e WHERE pred <> '{_KG_EX}parent')
"""

_KG_PATH_GRAPH_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT '{_KG_EX}g/' || source AS g,
             '{_KG_EX}doc/' || doc_id AS src,
             '{_KG_EX}doc/' || (doc_id // 2) AS dst
      FROM documents WHERE doc_id >= 1),
p(g, src, dst) AS (
  SELECT g, src, dst FROM e
  UNION
  SELECT p.g, p.src, e.dst FROM p JOIN e
    ON p.dst = e.src AND p.g = e.g)
SELECT DISTINCT g AS graph, src, dst FROM p
"""

_BGP_VALUES_ORACLE = """
WITH t AS MATERIALIZED ({}),
v AS (SELECT 'en' AS l, 'tier1' AS tier
      UNION ALL SELECT 'de', 'tier2'
      UNION ALL SELECT NULL, 'any')
SELECT DISTINCT t.subj AS d, t.obj_value AS l, v.tier AS tier,
       upper(t.obj_value) AS l_uc
FROM t JOIN v ON (v.l IS NULL OR v.l = t.obj_value)
WHERE t.pred = 'http://schema.org/inLanguage'
"""

_SAME_AS_FUSE_ORACLE = f"""
WITH
t0 AS MATERIALIZED ({{}}),
docs1 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 1),
canon AS MATERIALIZED (
  SELECT n, min(m) AS c FROM (
    WITH RECURSIVE
    sa(a, b) AS (
      SELECT '{_KG_EX}doc/' || doc_id, '{_KG_EX}alias/' || doc_id
      FROM documents WHERE doc_id % 10 = 1
      UNION ALL
      SELECT '{_KG_EX}alias/' || doc_id, '{_KG_EX}alias2/' || doc_id
      FROM documents WHERE doc_id % 10 = 1),
    sym(a, b) AS (SELECT a, b FROM sa UNION SELECT b, a FROM sa),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT reach.n, sym.b FROM reach JOIN sym ON reach.m = sym.a)
    SELECT n, m FROM reach) GROUP BY n),
facts AS (
  SELECT subj, pred, obj_value, obj_kind FROM t0
  UNION ALL
  SELECT '{_KG_EX}alias2/' || doc_id, '{_KG_EX}citedBy',
         '{_KG_EX}doc/' || (doc_id + 1), 'iri'
  FROM docs1)
SELECT DISTINCT
  coalesce(cs.c, f.subj) AS subj, f.pred,
  CASE WHEN f.obj_kind <> 'literal' THEN coalesce(co.c, f.obj_value)
       ELSE f.obj_value END AS obj_value,
  f.obj_kind
FROM facts f
LEFT JOIN canon cs ON f.subj = cs.n
LEFT JOIN canon co ON f.obj_value = co.n
"""

_BGP_EXISTS_MINUS_ORACLE = f"""
WITH t AS MATERIALIZED ({{}})
SELECT DISTINCT t.subj AS d, t.obj_value AS media
FROM t
WHERE t.pred = 'http://schema.org/associatedMedia'
  AND EXISTS (SELECT 1 FROM documents x
              WHERE x.doc_id % 3 = 0
                AND t.subj = '{_KG_EX}doc/' || x.doc_id)
  AND NOT EXISTS (SELECT 1 FROM documents x
                  WHERE x.doc_id % 3 = 0 AND x.doc_id % 5 = 0
                    AND t.subj = '{_KG_EX}doc/' || x.doc_id)
"""

_BGP_OPTIONAL_CHAIN_ORACLE = f"""
WITH t AS MATERIALIZED ({{}}),
m AS (SELECT DISTINCT subj AS d, obj_value AS media FROM t
      WHERE pred = 'http://schema.org/associatedMedia'),
r AS (SELECT DISTINCT '{_KG_EX}doc/' || doc_id AS d,
             '{_KG_EX}reviewer/' || (doc_id % 5) AS rev
      FROM documents WHERE doc_id % 3 = 0),
w AS (SELECT '{_KG_EX}reviewer/' || k AS rev,
             '{_KG_EX}org/' || (k % 2) AS org
      FROM (VALUES (0), (1), (2)) v(k)),
s1 AS (SELECT m.d, m.media, r.rev FROM m LEFT JOIN r ON m.d = r.d),
-- SPARQL leftjoin compatibility: an unbound ?rev matches EVERY
-- worksFor row and binds from it (the round-5 bind-once semantics)
s2 AS (
  SELECT s1.d, s1.media, s1.rev, w.org
  FROM s1 LEFT JOIN w ON s1.rev = w.rev WHERE s1.rev IS NOT NULL
  UNION ALL
  SELECT s1.d, s1.media, w.rev AS rev, w.org
  FROM s1 CROSS JOIN w WHERE s1.rev IS NULL
)
SELECT d, media, rev, org FROM s2
WHERE rev IS NULL OR rev <> '{_KG_EX}reviewer/0'
"""

_BGP_PATH_PATTERN_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT '{_KG_EX}doc/' || doc_id AS src,
             '{_KG_EX}doc/' || (doc_id // 2) AS dst
      FROM documents WHERE doc_id >= 1),
p(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT p.src, e.dst FROM p JOIN e ON p.dst = e.src),
d1 AS (SELECT DISTINCT src AS a FROM p WHERE dst = '{_KG_EX}doc/1'),
m AS (SELECT '{_KG_EX}doc/' || doc_id AS a,
             'https://media.example/img/' || doc_id || '.jpg' AS m
      FROM documents)
SELECT DISTINCT d1.a, m.m FROM d1 JOIN m ON d1.a = m.a
"""

_MIXTURE_ORACLE = """
WITH per AS (
  SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt,
               sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS tw FROM per)
SELECT grp, n_docs, n_tokens,
       round(n_tokens / tt, 6) AS raw_share,
       round(pow(CAST(n_tokens AS DOUBLE), 0.5) / tw, 6) AS weight,
       round((pow(CAST(n_tokens AS DOUBLE), 0.5) / tw)
             / (n_tokens / tt), 6) AS upsample
FROM per, tot
"""


def _sample_bucket_sql(key: str = "CAST(doc_id AS VARCHAR)",
                       salt: str = "s0") -> str:
    """Mirror of sampling._bucket (md5 path): h32(key||'|salt') % M."""
    return (f"(('0x'||substr(md5({key}||'|{salt}'||'#0'),1,8))::BIGINT"
            f" % 1000000)")


_HASH_SAMPLE_ORACLE = f"""
SELECT doc_id FROM documents
WHERE {_sample_bucket_sql()} < 300000
"""


def _stratified_sample_oracle() -> str:
    return f"""
WITH lang AS ({_LANG_ORACLE})
SELECT d.doc_id, lang.lang_pred
FROM documents d JOIN lang USING (doc_id)
WHERE {_sample_bucket_sql('CAST(d.doc_id AS VARCHAR)')} <
      CASE lang.lang_pred WHEN 'en' THEN 600000
                          WHEN 'und' THEN 250000 ELSE 0 END
"""


def _curate_oracle() -> str:
    """The curation funnel in SQL: quality gate → exact dedup (min id
    per normalized fingerprint) → transitive minhash near-dup dedup
    (recursive closure, reps only) → per-language hash sampling."""
    return f"""
WITH RECURSIVE q AS ({_QUALITY_ORACLE}),
p1 AS (
  SELECT d.doc_id, d.text, q.quality
  FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 0.5),
fp AS (
  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
  FROM p1),
ex_keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
p2 AS (SELECT p1.* FROM p1 JOIN ex_keep USING (doc_id)),
bh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text)-4,1)+1),
                        i -> {_hx('substr(text,i,5)', 0)}) AS hs
  FROM p2),
sig AS (
  SELECT doc_id, {', '.join(f'{e} AS {n}' for n, e in _MINHASH_MINS)}
  FROM bh),
banded AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {bh} AS band_hash FROM sig"
                      for b, bh in enumerate(_MINHASH_BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM p2
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
comp AS (SELECT node AS doc_id, min(r) AS rep FROM reach GROUP BY node),
p3 AS (SELECT p2.* FROM p2 JOIN comp ON p2.doc_id = comp.doc_id
       WHERE comp.rep = comp.doc_id),
tt AS (SELECT doc_id, quality, lower(text) AS lt, (text IS NULL) AS nt,
             string_split(lower(text), ' ') AS toks FROM p3),
s AS (SELECT doc_id, quality, nt, {_lang_pieces()[1]} FROM tt),
lang AS (SELECT doc_id, quality, {_lang_pieces()[2]} FROM s)
SELECT doc_id, lang_pred, quality FROM lang
WHERE {_sample_bucket_sql()} <
      CASE lang_pred WHEN 'en' THEN 800000
                     WHEN 'und' THEN 500000 ELSE 0 END
"""


_EVENT_SESSIONS_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, value, epoch(ts) AS t,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
numbered AS (
  SELECT user_id, value, t,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) - 1
           AS session_idx
  FROM marked)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       round(max(t) - min(t), 6) AS duration_s,
       round(sum(value), 2) AS total_value
FROM numbered GROUP BY user_id, session_idx
"""

_CORPUS_PROFILE_ORACLE = """
WITH lang AS ({lang}), tok AS ({tok})
SELECT lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe_tokens) AS BIGINT) AS total_tokens,
       round(sum(n_bpe_tokens) / CAST(count(*) AS DOUBLE), 6) AS avg_tokens,
       quantile_cont(n_bpe_tokens, 0.5) AS p50_tokens,
       quantile_cont(n_bpe_tokens, 0.95) AS p95_tokens
FROM lang JOIN tok USING (doc_id)
GROUP BY lang_pred
"""

_GRAPH_DEGREES_ORACLE = f"""
WITH t AS ({{triples}}),
outs AS (SELECT subj AS node, count(*) AS out_degree FROM t GROUP BY subj),
ins AS (SELECT obj_value AS node, count(*) AS in_degree FROM t
        WHERE obj_kind IN ('iri','bnode') GROUP BY obj_value)
SELECT coalesce(o.node, i.node) AS node,
       coalesce(out_degree, 0) AS out_degree,
       coalesce(in_degree, 0) AS in_degree
FROM outs o FULL OUTER JOIN ins i ON o.node = i.node
"""

_PRED_HISTOGRAM_ORACLE = """
WITH t AS ({triples})
SELECT pred, count(*) AS n_triples,
       count(DISTINCT subj) AS n_subjects
FROM t GROUP BY pred
"""

_TOP_HUBS_ORACLE = """
WITH deg AS ({degrees})
SELECT node, out_degree, in_degree,
       out_degree + in_degree AS degree
FROM deg
ORDER BY degree DESC, node ASC LIMIT 10
"""

_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE bh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text)-4,1)+1),
                        i -> {_hx('substr(text,i,5)', 0)}) AS hs
  FROM documents),
sig AS (
  SELECT doc_id, {', '.join(f'{e} AS {n}' for n, e in _MINHASH_MINS)}
  FROM bh),
banded AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, {bh} AS band_hash FROM sig"
                      for b, bh in enumerate(_MINHASH_BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
comp AS (SELECT node AS doc_id, min(r) AS rep FROM reach GROUP BY node),
sizes AS (SELECT rep, count(*) AS cluster_n FROM comp GROUP BY rep)
SELECT c.doc_id, c.rep, s.cluster_n FROM comp c JOIN sizes s USING (rep)
"""

_SIMHASH_ORACLE = f"""
WITH th AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '), t -> {_hx('t', 0)}) AS hs
  FROM documents),
bits AS (
  SELECT doc_id, b.i,
    CASE WHEN list_sum(list_transform(hs,
           h -> CASE WHEN (h & (1::BIGINT << b.i)) <> 0
                THEN 1 ELSE -1 END)) > 0
    THEN (1::BIGINT << b.i) ELSE 0 END AS bit
  FROM th, (SELECT unnest(range(0, 32)) AS i) b)
SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id
"""

_NGRAM_JACCARD_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(
             range(1, greatest(len(toks)-2, 1)+1),
             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]))
         ELSE [array_to_string(toks, ' ')] END AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
SELECT q.doc_id AS id_a, c.doc_id AS id_b,
       len(list_intersect(q.grams, c.grams))
         / len(list_distinct(list_concat(q.grams, c.grams))) AS jaccard
FROM g q JOIN g c ON q.doc_id < c.doc_id
WHERE q.doc_id % 97 = 0
"""

def _neardup_oracle(bands: int | None = None) -> str:
    """Mirrors the banded-LSH candidate generation + exact verify."""
    bands = _EMB_BANDS if bands is None else bands
    planes = _lsh_planes(_EMB_PLANES_N)
    per = len(planes) // bands
    band_selects = []
    for b in range(bands):
        lits = ["[" + ",".join(repr(x) for x in p) + "]"
                for p in planes[b * per:(b + 1) * per]]
        bucket = " + ".join(
            f"(CASE WHEN list_inner_product(v, {lit}) > 0 "
            f"THEN {1 << i} ELSE 0 END)" for i, lit in enumerate(lits))
        band_selects.append(
            f"SELECT vec_id, {b} AS band, {bucket} AS bucket FROM e")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ea.v, eb.v), 4) AS sim
FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4
"""


def _embedding_clusters_oracle() -> str:
    """Recursive-CTE transitive closure over the banded near-dup pairs."""
    return f"""
WITH RECURSIVE pairs AS ({_neardup_oracle()}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
comp AS (SELECT node AS vec_id, min(r) AS rep FROM reach GROUP BY node),
sizes AS (SELECT rep, count(*) AS cluster_n FROM comp GROUP BY rep)
SELECT c.vec_id, c.rep, s.cluster_n FROM comp c JOIN sizes s USING (rep)
"""


_IVF_ASSIGN_SQL = """
    SELECT vec_id, v, list_id FROM (
      SELECT e.vec_id, e.v, c.list_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_inner_product(e.v, c.c) DESC,
                        c.list_id DESC) AS rn
      FROM {src} e CROSS JOIN cents c) WHERE rn <= {n}"""


def _embedding_incr_oracle(threshold: float = 0.4, nprobe: int = 2) -> str:
    """IVF-list candidate generation + exact verify for the incremental
    path: a (new, corpus) pair is a candidate iff the corpus vector's
    single list is among the new vector's ``nprobe`` probed lists —
    identical to the landed-index probe (the int8 prefilter is a proven
    superset, so it is invisible to the result set)."""
    cents = _ivf_centroids()
    values = ", ".join(
        f"({i}, [{','.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT * FROM (VALUES {values}) t(list_id, c)),
corp AS (SELECT vec_id, v FROM e WHERE vec_id % 4 <> 0),
newb AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0),
ca AS ({_IVF_ASSIGN_SQL.format(src='corp', n=1)}),
na AS ({_IVF_ASSIGN_SQL.format(src='newb', n=nprobe)}),
cand AS (
  SELECT DISTINCT na.vec_id AS new_id, ca.vec_id AS corpus_id
  FROM ca JOIN na USING (list_id) WHERE ca.vec_id <> na.vec_id)
SELECT c.new_id, c.corpus_id,
       round(list_cosine_similarity(ec.v, en.v), 4) AS sim
FROM cand c JOIN e ec ON ec.vec_id = c.corpus_id
            JOIN e en ON en.vec_id = c.new_id
WHERE round(list_cosine_similarity(ec.v, en.v), 4) >= {threshold}
"""


def _neardup_hi_oracle(threshold: float = 0.9) -> str:
    """Production-regime banded LSH over embeddings ∪ planted perturbed
    twins — same plane literals and band split as the Spark query."""
    g = _lshg(threshold)
    per, bands = g.planes_per_band, g.bands
    planes = _lsh_planes(per * bands, _HI_DIM)
    band_selects = []
    for b in range(bands):
        lits = ["[" + ",".join(repr(x) for x in p) + "]"
                for p in planes[b * per:(b + 1) * per]]
        bucket = " + ".join(
            f"(CASE WHEN list_inner_product(v, {lit}) > 0 "
            f"THEN {1 << i} ELSE 0 END)" for i, lit in enumerate(lits))
        band_selects.append(
            f"SELECT vec_id, {b} AS band, {bucket} AS bucket FROM e")
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {_HI_PLANT_OFFSET} AS vec_id,
         list_transform(v, (x, i) -> x + 0.2 * v[(i % {_HI_DIM}) + 1]) AS v
  FROM base WHERE vec_id % 20 = 0),
banded AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ea.v, eb.v), 4) AS sim
FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= {threshold}
"""


_STREAM_SESSIONS_ORACLE = """
WITH sess AS ({sess}),
m AS (SELECT *, max(session_idx) OVER (PARTITION BY user_id) AS mx
      FROM sess)
SELECT user_id, session_idx, n_events, duration_s, total_value
FROM m WHERE session_idx < mx
"""


def _ann_oracle() -> str:
    planes = _lsh_planes()
    lits = ["[" + ",".join(repr(x) for x in p) + "]" for p in planes]
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {lit}) > 0 "
        f"THEN {1 << i} ELSE 0 END)" for i, lit in enumerate(lits))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(b.v, q.qv), 4) AS sim
  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


def _ivf_oracle(k: int = 10, nprobe: int = 2) -> str:
    cents = _ivf_centroids()
    values = ", ".join(
        f"({i}, [{','.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    # tie-break (d DESC, list_id DESC) mirrors Spark's
    # reverse(array_sort(struct(d, list_id)))
    assign = """
    SELECT vec_id, v, list_id FROM (
      SELECT e.vec_id, e.v, c.list_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_inner_product(e.v, c.c) DESC,
                        c.list_id DESC) AS rn
      FROM {src} e CROSS JOIN cents c) WHERE rn <= {n}"""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT * FROM (VALUES {values}) t(list_id, c)),
ea AS ({assign.format(src='e', n=1)}),
eq AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
q AS (SELECT vec_id AS query_id, v AS qv, list_id
      FROM ({assign.format(src='eq', n=nprobe)})),
scored AS (
  SELECT DISTINCT q.query_id, ea.vec_id AS neighbor_id,
         round(list_cosine_similarity(ea.v, q.qv), 4) AS sim
  FROM ea JOIN q USING (list_id) WHERE ea.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


_MEDIA_FEATURES_ORACLE = """
WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS content_hex,
                  md5(md5(CAST(doc_id AS VARCHAR))) AS fh
           FROM documents)
SELECT doc_id,
       'https://media.example/img/'||doc_id||'.jpg' AS media_ref,
       CAST(16 AS BIGINT) AS n_bytes, content_hex,
       round(('0x'||substr(fh,1,2))::INT / 255.0, 9) AS f0,
       round(('0x'||substr(fh,3,2))::INT / 255.0, 9) AS f1,
       round(('0x'||substr(fh,5,2))::INT / 255.0, 9) AS f2,
       round(('0x'||substr(fh,7,2))::INT / 255.0, 9) AS f3
FROM h
"""

_TOKEN_BPE_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\f\x0B]+'))
            AS BIGINT) AS n_bpe_tokens
FROM documents
"""

_QUALITY_ORACLE = """
WITH s AS (
  SELECT doc_id, length(text) AS n_chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
         length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS non_alnum,
         ' '||lower(text)||' ' AS padded
  FROM documents),
t AS (
  SELECT doc_id, n_chars, n_tokens, non_alnum,
         CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
              + (length(padded) - length(replace(padded, ' a ', ''))) / 3
              + (length(padded) - length(replace(padded, ' and ', ''))) / 5
              + (length(padded) - length(replace(padded, ' of ', ''))) / 4
              AS BIGINT) AS stop_hits
  FROM s)
SELECT doc_id,
       0.4 * least(n_chars / 500.0, 1.0)
         + 0.3 * (CASE WHEN n_chars = 0 THEN 0.0
                  ELSE 1.0 - non_alnum / CAST(n_chars AS DOUBLE) END)
         + 0.3 * least(stop_hits / n_tokens * 5.0, 1.0) AS quality
FROM t
"""

# canonical-JSON reconstructions (documents table has no NULL fields at
# the driver SFs; conditional-field CASEs omitted deliberately)
_COMPACT_ORACLE = """
SELECT 'doc-'||doc_id AS doc_id,
  '{"@context":{"lang":"http://schema.org/inLanguage",'
  ||'"nChars":"http://example.org/nChars",'
  ||'"source":"http://purl.org/dc/terms/source",'
  ||'"text":"http://schema.org/text"},'
  ||'"@id":"http://example.org/doc/'||doc_id||'",'
  ||'"lang":"'||lang||'","nChars":'||n_chars||','
  ||'"source":"'||source||'","text":"'||text||'"}' AS out_json
FROM documents
"""

_HETERO_ORACLE = """
SELECT 'doc-'||doc_id AS doc_id,
  CASE WHEN doc_id % 2 = 0 THEN
  '{"@context":{"lang":"http://schema.org/inLanguage",'
  ||'"nChars":"http://example.org/nChars",'
  ||'"source":"http://purl.org/dc/terms/source",'
  ||'"text":"http://schema.org/text"},'
  ||'"@id":"http://example.org/doc/'||doc_id||'",'
  ||'"lang":"'||lang||'","nChars":'||n_chars||','
  ||'"source":"'||source||'","text":"'||text||'"}'
  ELSE
  '{"@context":{"language":"http://schema.org/inLanguage",'
  ||'"len":"http://example.org/nChars",'
  ||'"src":"http://purl.org/dc/terms/source",'
  ||'"txt":"http://schema.org/text"},'
  ||'"@id":"http://example.org/doc/'||doc_id||'",'
  ||'"language":"'||lang||'","len":'||n_chars||','
  ||'"src":"'||source||'","txt":"'||text||'"}'
  END AS out_json
FROM documents
"""

_FLATTEN_ORACLE = """
SELECT 'doc-'||doc_id AS doc_id,
  '{"@context":{"lang":"http://schema.org/inLanguage",'
  ||'"nChars":"http://example.org/nChars",'
  ||'"source":"http://purl.org/dc/terms/source",'
  ||'"text":"http://schema.org/text"},'
  ||'"@graph":[{"@id":"http://example.org/doc/'||doc_id||'",'
  ||'"lang":"'||lang||'","nChars":'||n_chars||','
  ||'"source":"'||source||'","text":"'||text||'"}]}' AS out_json
FROM documents
"""

_FRAME_ORACLE = """
SELECT 'doc-'||doc_id AS doc_id,
  '{"@context":{"lang":"http://schema.org/inLanguage",'
  ||'"nChars":"http://example.org/nChars",'
  ||'"rating":"http://example.org/rating",'
  ||'"source":"http://purl.org/dc/terms/source",'
  ||'"text":"http://schema.org/text"},'
  ||'"@graph":[{"@id":"http://example.org/doc/'||doc_id||'",'
  ||'"lang":"'||lang||'","nChars":'||n_chars||',"rating":"unrated",'
  ||'"source":"'||source||'","text":"'||text||'"}]}' AS out_json
FROM documents
"""

_FROMRDF_ORACLE = """
SELECT 'doc-'||doc_id AS doc_id,
  '[{"@id":"http://example.org/doc/'||doc_id||'",'
  ||'"http://example.org/nChars":[{"@type":"http://www.w3.org/2001/XMLSchema#integer","@value":"'||n_chars||'"}],'
  ||'"http://purl.org/dc/terms/source":[{"@value":"'||source||'"}],'
  ||'"http://schema.org/associatedMedia":[{"@id":"https://media.example/img/'||doc_id||'.jpg"}],'
  ||'"http://schema.org/inLanguage":[{"@value":"'||lang||'"}],'
  ||'"http://schema.org/text":[{"@value":"'||text||'"}]}]' AS out_json
FROM documents
"""

_ENTITY_LINK_ORACLE = """
SELECT 'doc-'||doc_id AS doc_id,
       'http://example.org/doc/'||CAST((doc_id // 5) * 5 AS VARCHAR) AS subj
FROM documents WHERE text IS NOT NULL
"""


def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration power method over the KG's IRI→IRI edges
    — the same recurrence ``q_pagerank`` pins (``max_iter=10``,
    ``tol=None``, uniform dangling redistribution, Σrank = 1). One CTE
    trio per round: per-dst contribution sum, dangling mass, new ranks."""
    # MATERIALIZED is load-bearing: inlined, each r{i} expands 3× per
    # round → 3^n_iter copies of the parquet scan (fd exhaustion)
    ctes = [
        f"t AS MATERIALIZED ({_DOC_TRIPLES_ORACLE})",
        "e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj_value AS dst "
        "FROM t WHERE obj_kind = 'iri' AND subj IS NOT NULL "
        "AND obj_value IS NOT NULL)",
        "nodes AS MATERIALIZED "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src)",
        "r0 AS MATERIALIZED "
        "(SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"c{i} AS MATERIALIZED "
            f"(SELECT e.dst AS node, sum(r.rank / deg.d) AS _c "
            f"FROM e JOIN r{i} r ON e.src = r.node "
            f"JOIN deg ON e.src = deg.src GROUP BY e.dst)")
        ctes.append(
            f"d{i} AS MATERIALIZED "
            f"(SELECT coalesce(sum(r.rank), 0) AS dang "
            f"FROM r{i} r LEFT JOIN deg ON r.node = deg.src "
            f"WHERE deg.src IS NULL)")
        ctes.append(
            f"r{i + 1} AS MATERIALIZED (SELECT n.node, "
            f"(1 - {damping}) / (SELECT n FROM nn) "
            f"+ {damping} * (coalesce(c._c, 0) "
            f"+ (SELECT dang FROM d{i}) / (SELECT n FROM nn)) AS rank "
            f"FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, round(rank * (SELECT n FROM nn), 5) "
              f"AS scaled_rank FROM r{n_iter}")


_PII_ORACLE = r''' 
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(text,
         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\b[0-9]{9,}\b')) AS BIGINT)
         AS n_number,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IPV4]', 'g'),
         '\b[0-9]{9,}\b', '[NUMBER]', 'g') AS redacted
FROM documents
 '''

_BOILER_ORACLE = ''' 
WITH ls AS (SELECT doc_id, string_split(text, chr(10)) AS parts
            FROM documents),
lx AS (SELECT doc_id, unnest(list_transform(parts,
           (x, i) -> {'line': x, 'pos': i})) AS u FROM ls),
lines AS (SELECT doc_id, u.line AS line, u.pos AS pos FROM lx),
freq AS (
  SELECT md5(trim(line)) AS h, count(DISTINCT doc_id) AS n_docs
  FROM lines WHERE length(trim(line)) >= 10 GROUP BY md5(trim(line))),
boiler AS (SELECT h FROM freq WHERE n_docs > 10),
keep AS (SELECT doc_id, pos, line FROM lines
         WHERE md5(trim(line)) NOT IN (SELECT h FROM boiler)),
agg AS (SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines_kept
        FROM keep GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(agg.clean_text, '') AS clean_text,
       coalesce(agg.n_lines_kept, 0) AS n_lines_kept
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN agg ON d.doc_id = agg.doc_id
 '''


def oracle_sql() -> dict[str, str]:
    return {
        "jsonld_doc_triples": _DOC_TRIPLES_ORACLE,
        "streaming_triples": _DOC_TRIPLES_ORACLE,
        "canonicalize_anon": _CANON_ORACLE,
        "compact_docs": _COMPACT_ORACLE,
        "hetero_compact": _HETERO_ORACLE,
        "flatten_docs": _FLATTEN_ORACLE,
        "frame_docs": _FRAME_ORACLE,
        "fromrdf_docs": _FROMRDF_ORACLE,
        "subject_stats": f"""
            SELECT subj, count(*) AS n_triples,
                   string_agg(DISTINCT pred, '|' ORDER BY pred) AS preds
            FROM ({_DOC_TRIPLES_ORACLE}) t
            GROUP BY subj
        """,
        "error_isolation": """
            SELECT 'doc-'||doc_id AS doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN 'JsonLdError'
                        ELSE 'ok' END AS status
            FROM documents
        """,
        "ann_topk": _ann_oracle(),
        "ivf_topk": _ivf_oracle(),
        "ivf_index_topk": _ivf_oracle(),
        "media_features": _MEDIA_FEATURES_ORACLE,
        "redact_pii": _PII_ORACLE,
        "strip_boilerplate": _BOILER_ORACLE,
        "media_resize": """
            SELECT doc_id,
                   'https://media.example/img/'||doc_id||'.jpg' AS media_ref,
                   CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
                   md5(md5(CAST(doc_id AS VARCHAR))||'|224x224')
                     AS content_hex
            FROM documents
        """,
        "media_frames": """
            SELECT doc_id,
                   'https://media.example/img/'||doc_id||'.jpg' AS media_ref,
                   CAST(i AS INT) AS frame_idx,
                   md5(md5(CAST(doc_id AS VARCHAR))||'|frame|'||i)
                     AS frame_sig
            FROM documents, (SELECT unnest(range(0, 4)) AS i)
        """,
        "token_count_bpe": _TOKEN_BPE_ORACLE,
        "token_count_vocab": (
            "SELECT doc_id, n_vocab_tokens FROM '"
            + _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                            "tests", "data",
                            "token_count_vocab_sf001.parquet")
            + "'"),
        "quality_score": _QUALITY_ORACLE,
        "entity_link": _ENTITY_LINK_ORACLE,
        "nquads_media_lines": _NQ_MEDIA_ORACLE,
        "nquads_roundtrip": f"""
            SELECT graph, subj, pred, obj_kind, obj_value, obj_datatype,
                   obj_lang
            FROM ({_DOC_TRIPLES_ORACLE}) t
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_dupes
            FROM documents GROUP BY md5(text)
        """,
        "minhash_pairs": _MINHASH_ORACLE,
        "minhash_incremental": _MINHASH_INCR_ORACLE,
        "dedup_clusters": _DEDUP_CLUSTERS_ORACLE,
        "simhash_neardup":
            _SIMHASH_NEARDUP_ORACLE.format(sim=_SIMHASH_ORACLE),
        "simhash_neardup_reps":
            _SIMHASH_REPS_ORACLE.format(sim=_SIMHASH_ORACLE),
        "minhash_word_pairs": _MINHASH_WORD_ORACLE,
        "graph_degrees":
            _GRAPH_DEGREES_ORACLE.format(triples=_DOC_TRIPLES_ORACLE),
        "predicate_histogram":
            _PRED_HISTOGRAM_ORACLE.format(triples=_DOC_TRIPLES_ORACLE),
        "top_hubs": _TOP_HUBS_ORACLE.format(
            degrees=_GRAPH_DEGREES_ORACLE.format(
                triples=_DOC_TRIPLES_ORACLE)),
        "pagerank": _pagerank_oracle(),
        "simhash": _SIMHASH_ORACLE,
        "ngram_jaccard": _NGRAM_JACCARD_ORACLE,
        "embedding_neardup": _neardup_oracle(),
        "embedding_neardup_hi": _neardup_hi_oracle(),
        "embedding_incremental": _embedding_incr_oracle(),
        "embedding_clusters": _embedding_clusters_oracle(),
        "streaming_sessions": _STREAM_SESSIONS_ORACLE.format(
            sess=_EVENT_SESSIONS_ORACLE),
        "streaming_user_totals": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY user_id
        """,
        "doc_stats": """
            SELECT doc_id, length(text) AS n_chars_actual,
                   len(string_split(text, ' ')) AS n_tokens,
                   round(length(replace(text, ' ', ''))
                         / len(string_split(text, ' ')), 4) AS mean_token_len
            FROM documents
        """,
        "doc_repetition": _DOC_REPETITION_ORACLE,
        "decontaminate": _DECONTAMINATE_ORACLE,
        "rdfs_entail": _rdfs_entail_oracle(),
        "bgp_star": _BGP_STAR_ORACLE,
        "bgp_optional": _BGP_OPTIONAL_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "bgp_filter": _BGP_FILTER_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "bgp_union": _BGP_UNION_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_text": _SPARQL_TEXT_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_optional_group":
            _SPARQL_OPT_GROUP_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_optional_correlated":
            _SPARQL_OPT_CORR_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_exists_subquery": _SPARQL_EXISTS_SUBQ_ORACLE,
        "sparql_not_exists_max":
            _SPARQL_NOT_EXISTS_MAX_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_subquery":
            _SPARQL_SUBQUERY_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "construct_union":
            _CONSTRUCT_UNION_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "construct_bnode":
            _CONSTRUCT_BNODE_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_union_join":
            _SPARQL_UNION_JOIN_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_typed":
            _SPARQL_TYPED_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_optional_union":
            _SPARQL_OPT_UNION_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_nested_optional":
            _SPARQL_NESTED_OPT_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_optional_body":
            _SPARQL_OPT_BODY_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_optional_subquery":
            _SPARQL_OPT_SUBQ_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_filter_exists":
            _SPARQL_FILTER_EXISTS_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_union_filter":
            _SPARQL_UNION_FILTER_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_double_neg":
            _SPARQL_DOUBLE_NEG_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "sparql_from":
            _SPARQL_FROM_ORACLE.format(_DOC_TRIPLES_ORACLE),
        # sparql_datetime: the Spark side round-trips ts through the
        # xsd:dateTime lexical form; the oracle reads the native
        # timestamp — equality proves the lexical round-trip is exact
        "sparql_datetime": """
            SELECT CAST(month(ts) AS BIGINT) AS mo,
                   CAST(hour(ts) AS BIGINT) AS h,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT event_type) AS n_types
            FROM events
            WHERE year(ts) = 2024 AND second(ts) >= 10
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "bgp_star_encoded": _BGP_STAR_ORACLE,
        "shacl_report": _SHACL_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "bgp_not_exists":
            _BGP_NOT_EXISTS_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "construct_media":
            _CONSTRUCT_MEDIA_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "bgp_graph": _BGP_GRAPH_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "bgp_agg": _BGP_AGG_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "describe_doc": _DESCRIBE_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "owl_entail": _OWL_ENTAIL_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "kg_incremental": f"""
            SELECT * FROM ({_DOC_TRIPLES_ORACLE})
            WHERE CAST(regexp_extract(doc_id, '([0-9]+)', 1) AS BIGINT)
                  % 30 <> 7
        """,
        "kg_paths": _KG_PATHS_ORACLE,
        "kg_path_ops": _KG_PATH_OPS_ORACLE,
        "kg_path_neg": _KG_PATH_NEG_ORACLE,
        "kg_path_graph": _KG_PATH_GRAPH_ORACLE,
        "bgp_exists_minus":
            _BGP_EXISTS_MINUS_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "bgp_optional_chain":
            _BGP_OPTIONAL_CHAIN_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "bgp_path_pattern": _BGP_PATH_PATTERN_ORACLE,
        "bgp_values": _BGP_VALUES_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "same_as_fuse": _SAME_AS_FUSE_ORACLE.format(_DOC_TRIPLES_ORACLE),
        "ivf_index_append": _ivf_oracle(),
        "span_dedup": _SPAN_DEDUP_ORACLE,
        "mixture_weights": _MIXTURE_ORACLE,
        "lang_id": _LANG_ORACLE,
        "corpus_profile": _CORPUS_PROFILE_ORACLE.format(
            lang=_LANG_ORACLE, tok=_TOKEN_BPE_ORACLE),
        "hash_sample": _HASH_SAMPLE_ORACLE,
        "stratified_sample": _stratified_sample_oracle(),
        "curate_corpus": _curate_oracle(),
        "event_sessions": _EVENT_SESSIONS_ORACLE,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "cosine_topk": _COSINE_ORACLE,
        "cc_components": """
            SELECT CAST(vec_id AS BIGINT) AS node,
                   CAST((vec_id // 7) * 7 AS BIGINT) AS component
            FROM embeddings
        """,
        "lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= '1995-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders": """
            WITH rev AS (
              SELECT l_orderkey,
                     SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))) AS rev_d
              FROM lineitem GROUP BY l_orderkey),
            j AS (
              SELECT o.o_orderkey, rev_d,
                     row_number() OVER (ORDER BY rev_d DESC, o_orderkey ASC)
                       AS rn
              FROM orders o JOIN rev ON o.o_orderkey = rev.l_orderkey)
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(rev_d AS DOUBLE) AS revenue, CAST(rn AS BIGINT) AS rn
            FROM j WHERE rn <= 10
        """,
        "region_customer_counts": """
            SELECT r_name, count(*) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name
        """,
        "window_running": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(user_id AS BIGINT) AS user_id,
                   CAST(row_number() OVER w AS BIGINT) AS rn,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                     AS running_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "customers_without_orders": """
            SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey)
        """,
    }
