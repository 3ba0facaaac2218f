"""Landed int8 IVF index: equality with the in-memory IVF path,
partition-pruned probes, and the storage compaction it exists for."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.similarity import (build_ivf_index,
                                               ivf_cosine_topk,
                                               search_ivf_index)

SF_DIR = "/root/testdata/sf0.001"


def _centroids(k=8, dim=64):
    import numpy as np
    rs = np.random.RandomState(11)
    return [[round(float(x), 6) for x in row]
            for row in rs.normal(size=(k, dim))]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = _centroids()
    idx_dir = str(tmp_path_factory.mktemp("ivf") / "index")
    build_ivf_index(emb, cents, idx_dir)
    queries = emb.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"))
    return emb, cents, idx_dir, queries


def test_index_search_equals_in_memory_ivf(spark, setup):
    """int8 prefilter + exact rerank must reproduce the exact IVF
    results — oversample absorbs the ≤0.4%-per-component quantization
    error, and the rerank scores/tie-breaks are byte-identical."""
    emb, cents, idx_dir, queries = setup
    want = sorted((r.query_id, r.neighbor_id, r.sim, r.rank) for r in
                  ivf_cosine_topk(emb, queries, cents, k=10, nprobe=2)
                  .collect())
    got = sorted((r.query_id, r.neighbor_id, r.sim, r.rank) for r in
                 search_ivf_index(spark, idx_dir, emb, queries, cents,
                                  k=10, nprobe=2, oversample=4)
                 .collect())
    assert got == want and len(got) > 0


def test_index_probe_is_partition_pruned(spark, setup):
    """The probed-list filter must reach the parquet scan as a
    PartitionFilter (reading nprobe lists, not the whole index) — a
    post-scan filter would read all bytes at 10^9-vector scale."""
    emb, cents, idx_dir, queries = setup
    plan = search_ivf_index(spark, idx_dir, emb, queries, cents,
                            k=10, nprobe=2)._jdf.queryExecution() \
        .executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[.*list_id.*\]", plan)
    assert m, f"no list_id partition filter in scan:\n{plan[:2000]}"


def test_index_is_at_least_4x_smaller(spark, setup):
    """The quantized index must be ≥4× smaller than the same vectors
    landed as array<double> — the point of int8 candidates. Measured
    uncompressed (codec luck on low-entropy synthetic doubles would
    understate the representation gap that bounds shuffle bytes)."""
    emb, cents, idx_dir, queries = setup
    prev = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "uncompressed")
    try:
        raw_idx = idx_dir + "_raw"
        build_ivf_index(emb, cents, raw_idx)
        ref_dir = idx_dir + "_double"
        emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v")) \
           .write.parquet(ref_dir)
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", prev)

    def _bytes(d):
        return sum(os.path.getsize(p) for p in
                   glob.glob(f"{d}/**/*.parquet", recursive=True))

    idx_b, ref_b = _bytes(raw_idx), _bytes(ref_dir)
    assert idx_b * 4 <= ref_b, (idx_b, ref_b)


def test_append_to_index_equals_full_rebuild(spark, setup, tmp_path):
    """Incremental index maintenance: building on half the corpus then
    appending the other half must search identically to a one-shot full
    build — the nightly-crawl landing path (dedup the batch, append the
    survivors)."""
    from jsonld_spark.operators.similarity import append_to_ivf_index
    emb, cents, idx_dir, queries = setup
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    inc_dir = str(tmp_path / "inc_index")
    build_ivf_index(half_a, cents, inc_dir)
    append_to_ivf_index(half_b, cents, inc_dir)
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.sim)  # noqa: E731
    got = sorted(map(key, search_ivf_index(
        spark, inc_dir, emb, queries, cents, k=10, nprobe=2).collect()))
    want = sorted(map(key, search_ivf_index(
        spark, idx_dir, emb, queries, cents, k=10, nprobe=2).collect()))
    assert got == want and len(got) > 0


def test_zero_norm_vector_is_no_neighbor_or_near_dup(spark, tmp_path):
    """A zero-norm vector (failed encoder) in the landed index or in a
    new batch scores NULL in the int8 approximate cosine — the division
    by its zero norm must not fail the job under ANSI mode — and is
    never a neighbor nor a near-duplicate, as ``cosine`` has it."""
    from jsonld_spark.operators.similarity import (
        embedding_neardup_incremental)
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1])], schema)
    cents = [[1.0, 0.0]]
    idx_dir = str(tmp_path / "index")
    build_ivf_index(corpus, cents, idx_dir)
    q = spark.createDataFrame([(1, [1.0, 0.0]), (9, [0.0, 0.0])],
                              "query_id long, query_vec array<double>")
    got = [(r.query_id, r.neighbor_id, r.rank) for r in search_ivf_index(
        spark, idx_dir, corpus, q, cents, k=3, nprobe=1).collect()]
    assert got == [(1, 2, 1)], got
    new = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [0.91, 0.1])], schema)
    pairs = [(r.new_id, r.corpus_id) for r in embedding_neardup_incremental(
        spark, idx_dir, corpus, new, cents, threshold=0.9,
        nprobe=1).collect()]
    assert sorted(pairs) == [(11, 1), (11, 2)], pairs
