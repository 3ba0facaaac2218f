"""Materialization, lineage manifests, checkpoint-resume, skew salting."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonld_spark.operators.materialize import (
    detect_heavy_subjects, materialize_graph, read_graph, read_manifests,
    salt_by_subject, subject_stats, verify_manifests, with_partition,
    TRIPLE_COLS)
from jsonld_spark.operators.pipeline import docs_to_triples
from jsonld_spark.sources.interleaved import interleaved_from_documents

SF_DIR = "/root/testdata/sf0.001"
N_BUCKETS = 16


@pytest.fixture(scope="module")
def triples(spark):
    t = docs_to_triples(interleaved_from_documents(spark, SF_DIR))
    t = t.persist()
    yield t
    t.unpersist()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select(*TRIPLE_COLS).collect())


def test_materialize_roundtrip(spark, triples, tmp_path):
    out = str(tmp_path / "graph")
    m = materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r1")
    assert m["pending"] > 0 and m["skipped"] == 0
    back = read_graph(spark, out)
    assert _sorted_rows(back) == _sorted_rows(triples)
    # one manifest row per written bucket, all verified ok
    man = read_manifests(spark, out)
    assert man.count() == m["pending"]
    assert man.agg(F.sum("n_rows")).first()[0] == triples.count()
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}


def test_resume_skips_completed(spark, triples, tmp_path):
    out = str(tmp_path / "graph")
    m1 = materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r1")
    m2 = materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r2")
    assert m2["pending"] == 0
    assert m2["skipped"] == m1["pending"]


def test_resume_refuses_config_mismatch(spark, triples, tmp_path):
    """Resuming with a different bucketing (or input identity) must fail
    loudly — part numbers from an old bucketing would silently mark the
    wrong data as done."""
    out = str(tmp_path / "graph")
    materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r1",
                      input_id="snap-1")
    with pytest.raises(ValueError, match="n_buckets"):
        materialize_graph(triples, out, n_buckets=N_BUCKETS * 2, run_id="r2")
    with pytest.raises(ValueError, match="input_id"):
        materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r2",
                          input_id="snap-2")
    # same config resumes; resume=False rebuilds despite the mismatch
    m = materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r2",
                          input_id="snap-1")
    assert m["pending"] == 0
    m = materialize_graph(triples, out, n_buckets=N_BUCKETS * 2, run_id="r3",
                          resume=False)
    assert m["pending"] > 0


def test_resume_redoes_unmanifested_partition(spark, triples, tmp_path):
    """Simulate a crash between data write and manifest commit: drop one
    bucket's manifest rows + data → resume rewrites only that bucket."""
    out = str(tmp_path / "graph")
    materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r1")
    victim = int(read_manifests(spark, out).select("part").first()[0])

    # remove the victim's data dir and rewrite manifests without it
    keep = read_manifests(spark, out).where(F.col("part") != victim)
    kept_rows = keep.collect()
    shutil.rmtree(f"{out}/triples/part={victim}")
    shutil.rmtree(f"{out}/manifests")
    spark.createDataFrame(kept_rows, read_manifests(spark, out).schema) \
        .write.mode("overwrite").parquet(f"{out}/manifests")

    m = materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r2")
    assert m["pending"] == 1  # only the victim bucket was redone
    assert _sorted_rows(read_graph(spark, out)) == _sorted_rows(triples)
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}


def test_partitioning_is_deterministic_and_subject_colocated(spark, triples):
    p = with_partition(triples, N_BUCKETS)
    per_subj = p.groupBy("subj").agg(
        F.countDistinct("part").alias("n_parts"))
    assert per_subj.agg(F.max("n_parts")).first()[0] == 1
    # pure function of subj: recompute matches
    p2 = with_partition(triples, N_BUCKETS)
    assert _sorted_rows(p.where(F.col("part") == 3).drop("part")) == \
        _sorted_rows(p2.where(F.col("part") == 3).drop("part"))


def test_heavy_subject_salting(spark):
    """One hub subject dominating the table gets spread over n_salts
    reducer keys; normal subjects keep salt 0; two-phase rollup equals
    the naive single-phase result."""
    hub = [("d", "@default", "http://hub", f"http://p/{i % 5}", "iri",
            f"http://o/{i}", None, None) for i in range(2000)]
    tail = [("d", "@default", f"http://s/{i}", "http://p/x", "iri",
             f"http://o/{i}", None, None) for i in range(100)]
    df = spark.createDataFrame(
        hub + tail, ", ".join(f"{c}: string" for c in TRIPLE_COLS))

    heavy = detect_heavy_subjects(df, threshold=1000, sample_fraction=1.0)
    assert [r["subj"] for r in heavy.collect()] == ["http://hub"]

    salted = salt_by_subject(df, heavy, n_salts=8)
    hub_salts = (salted.where(F.col("subj") == "http://hub")
                 .select("salt").distinct().count())
    assert hub_salts > 1  # hub spread across reducers
    tail_salts = (salted.where(F.col("subj") != "http://hub")
                  .select("salt").distinct().collect())
    assert [r["salt"] for r in tail_salts] == [0]

    got = subject_stats(df, heavy_threshold=1000, sample_fraction=1.0,
                        n_salts=8)
    naive = df.groupBy("subj").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.array_sort(F.collect_set("pred")).alias("preds"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, naive.collect()))


def test_rebuild_clears_stale_buckets_and_manifests(spark, triples, tmp_path):
    """resume=False must leave NO trace of the old bucketing: stale part
    dirs would leak into read_graph (dynamic overwrite only replaces
    partitions the new run writes) and stale manifest config rows would
    block every later resume."""
    out = str(tmp_path / "graph")
    materialize_graph(triples, out, n_buckets=N_BUCKETS, run_id="r1")
    # rebuild with FEWER buckets: old parts >= 4 would survive a plain
    # dynamic-partition overwrite
    m = materialize_graph(triples, out, n_buckets=4, run_id="r2",
                          resume=False)
    assert m["pending"] == 4
    assert _sorted_rows(read_graph(spark, out)) == _sorted_rows(triples)
    man = read_manifests(spark, out)
    assert {r["n_buckets"] for r in man.select("n_buckets").collect()} == {4}
    # and the rebuilt output resumes cleanly under its new config
    m3 = materialize_graph(triples, out, n_buckets=4, run_id="r3")
    assert m3["pending"] == 0 and m3["skipped"] == 4
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}


def _mk_triples(spark, rows):
    from jsonld_spark.operators.materialize import TRIPLE_COLS
    return spark.createDataFrame(
        rows, ", ".join(f"{c}: string" for c in TRIPLE_COLS))


def _trip(doc, subj, obj):
    return (doc, "@default", subj, "http://ex.org/p", "literal", obj,
            "http://www.w3.org/2001/XMLSchema#string", None)


def test_upsert_replaces_and_deletes_documents(spark, tmp_path):
    from jsonld_spark.operators.materialize import upsert_documents
    out = str(tmp_path / "graph")
    base = _mk_triples(spark, [
        _trip("d1", "http://a", "one"),
        _trip("d1", "http://b", "two"),
        _trip("d2", "http://c", "three"),
        _trip("d3", "http://d", "four"),
    ])
    materialize_graph(base, out, n_buckets=4, run_id="r1")

    # d1 changes content, d3 is deleted, d2 untouched
    new = _mk_triples(spark, [_trip("d1", "http://a", "one-v2")])
    deleted = spark.createDataFrame([("d3",)], "doc_id: string")
    m = upsert_documents(new, out, deleted_doc_ids=deleted, run_id="u1")
    assert m["docs_changed"] == 2 and m["affected"] >= 1

    got = {(r.doc_id, r.subj, r.obj_value)
           for r in read_graph(spark, out).collect()}
    assert got == {("d1", "http://a", "one-v2"),
                   ("d2", "http://c", "three")}
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}


def test_upsert_emptied_bucket_removed_and_audits_ok(spark, tmp_path):
    """Deleting every doc whose triples live in some bucket must remove
    that bucket's data dir; the zero-row manifest keeps the audit ok."""
    from jsonld_spark.operators.materialize import (read_doc_index,
                                                    upsert_documents)
    out = str(tmp_path / "graph")
    base = _mk_triples(spark, [
        _trip("d%d" % i, "http://s%d" % i, "v%d" % i) for i in range(8)])
    materialize_graph(base, out, n_buckets=2, run_id="r1")

    # delete everything: both buckets end up empty
    deleted = spark.createDataFrame([("d%d" % i,) for i in range(8)],
                                    "doc_id: string")
    empty = _mk_triples(spark, [])
    m = upsert_documents(empty, out, deleted_doc_ids=deleted, run_id="u1")
    assert m["deleted_buckets"] == m["affected"] > 0
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}
    assert read_doc_index(spark, out).count() == 0


def test_upsert_idempotent_and_requires_manifests(spark, tmp_path):
    from jsonld_spark.operators.materialize import upsert_documents
    out = str(tmp_path / "graph")
    new = _mk_triples(spark, [_trip("d1", "http://a", "x")])
    with pytest.raises(ValueError, match="materialize the graph first"):
        upsert_documents(new, out)

    base = _mk_triples(spark, [_trip("d1", "http://a", "one"),
                               _trip("d2", "http://b", "two")])
    materialize_graph(base, out, n_buckets=2, run_id="r1")
    upsert_documents(new, out, run_id="u1")
    before = sorted(tuple(r) for r in read_graph(spark, out).collect())
    upsert_documents(new, out, run_id="u2")  # crash-replay: same result
    after = sorted(tuple(r) for r in read_graph(spark, out).collect())
    assert before == after
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}


def test_upsert_leaves_unaffected_bucket_files_untouched(spark, tmp_path):
    """The 100 TB contract: refreshing one document must not rewrite
    buckets it doesn't touch — verified on the actual files, not the
    plan."""
    import os

    from jsonld_spark.operators.materialize import (read_doc_index,
                                                    upsert_documents)
    out = str(tmp_path / "graph")
    base = _mk_triples(spark, [
        _trip("d%d" % i, "http://s%d" % i, "v%d" % i) for i in range(40)])
    materialize_graph(base, out, n_buckets=8, run_id="r1")

    idx = {r.doc_id: r.part for r in read_doc_index(spark, out).collect()}
    victim_part = idx["d0"]
    untouched = [p for p in range(8) if p != victim_part]

    def snapshot(parts):
        snap = {}
        for p in parts:
            d = f"{out}/triples/part={p}"
            for f in os.listdir(d):
                st = os.stat(f"{d}/{f}")
                snap[f"{p}/{f}"] = (st.st_mtime_ns, st.st_size, st.st_ino)
        return snap

    before = snapshot(untouched)
    new = _mk_triples(spark, [_trip("d0", "http://s0", "v0-new")])
    m = upsert_documents(new, out, run_id="u1")
    assert m["affected"] == 1
    assert snapshot(untouched) == before


@pytest.mark.parametrize("crash_at", ["local_frame", "_delete_path"],
                         ids=["before_manifests", "before_deletes"])
def test_upsert_crash_point_replays_to_same_graph(spark, tmp_path,
                                                  monkeypatch, crash_at):
    """A crash inside the commit leaves one bucket the audit reports as
    `mismatch`; replaying the same upsert repairs it and gives the rows
    of an uninterrupted run. before_manifests: data and doc index are
    written, the manifest append fails, so the changed document's
    bucket holds new rows under its old manifest. before_deletes: the
    manifests are appended, the empty-bucket delete fails, so the
    emptied bucket's 0-row manifest sits over its stale data."""
    from jsonld_spark.operators import materialize
    base = _mk_triples(spark, [
        _trip("d%d" % i, "http://s%d" % i, "v%d" % i) for i in range(8)])
    parts = {r.doc_id: r.part for r in with_partition(base, 4).collect()}
    emptied = parts["d0"]
    changed = min(d for d, p in parts.items() if p != emptied)
    new = _mk_triples(spark, [_trip(changed, "http://s" + changed[1:],
                                    "new")])
    gone = spark.createDataFrame(
        [(d,) for d, p in parts.items() if p == emptied], "doc_id: string")

    def upsert(out, run_id):
        return materialize.upsert_documents(new, out, deleted_doc_ids=gone,
                                            run_id=run_id)

    ref, out = str(tmp_path / "ref"), str(tmp_path / "graph")
    for d in (ref, out):
        materialize_graph(base, d, n_buckets=4, run_id="r1")
    upsert(ref, "u1")

    real, calls = getattr(materialize, crash_at), []

    def crash_once(*args, **kwargs):
        if not calls:
            calls.append(args)
            raise RuntimeError("injected crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(materialize, crash_at, crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert(out, "u1")
    status = {r.part: r.status
              for r in verify_manifests(spark, out).collect()}
    stale = parts[changed] if crash_at == "local_frame" else emptied
    assert status[stale] == "mismatch"

    m = upsert(out, "u2")
    assert m["deleted_buckets"] == 1
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}
    assert _sorted_rows(read_graph(spark, out)) == \
        _sorted_rows(read_graph(spark, ref))


def test_is_missing_table_classification():
    """Advice fix: only the two missing-table analysis conditions are
    swallowed by the read paths; anything else must propagate."""
    from pyspark.errors import AnalysisException

    from jsonld_spark.operators.materialize import _is_missing_table
    assert _is_missing_table(
        AnalysisException("[PATH_NOT_FOUND] Path does not exist: /x"))
    assert _is_missing_table(
        AnalysisException("[UNABLE_TO_INFER_SCHEMA] empty directory"))
    assert not _is_missing_table(
        AnalysisException("[AMBIGUOUS_REFERENCE] column x is ambiguous"))


@pytest.mark.parametrize("schema", [
    "a string, n long, x double",
    T.StructType([T.StructField("a", T.StringType()),
                  T.StructField("n", T.LongType()),
                  T.StructField("x", T.DoubleType())]),
], ids=["ddl", "struct"])
def test_local_frame_roundtrip(spark, schema):
    from jsonld_spark.session import local_frame
    rows = [("x", 1, 0.5), (None, None, None), ("", 2**40, -1.25)]
    df = local_frame(spark, rows, schema)
    assert df.dtypes == [("a", "string"), ("n", "bigint"), ("x", "double")]
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], schema)
    assert empty.schema == df.schema and empty.collect() == []


def test_local_frame_is_a_local_relation(spark):
    """No pickled RDD behind it: the plan scans a local table."""
    from jsonld_spark.session import local_frame
    df = local_frame(spark, [("x", 1)], "a string, b int")
    plan = df._jdf.queryExecution().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_commit_job_counts(spark, triples, tmp_path):
    """A fresh build reads no manifests back (7 jobs; 8 when it read the
    just-deleted table and anti-joined against nothing), and the upsert's
    graph and doc-index reads use fixed schemas instead of inferring one
    from parquet footers (16 jobs; 18 with two inference jobs)."""
    from jsonld_spark.operators.materialize import upsert_documents
    out = str(tmp_path / "graph")
    ids = [r.doc_id for r in triples.select("doc_id").distinct()
           .orderBy("doc_id").limit(3).collect()]
    m, jobs = _job_count(spark, "build_jobs", lambda: materialize_graph(
        triples, out, n_buckets=N_BUCKETS, run_id="r1", resume=False))
    assert m["pending"] > 0 and m["skipped"] == 0
    assert jobs <= 7

    new = (triples.where(F.col("doc_id").isin(ids[:2]))
           .withColumn("obj_value", F.concat("obj_value", F.lit("-v2"))))
    deleted = triples.select("doc_id").where(F.col("doc_id") == ids[2])
    m, jobs = _job_count(spark, "upsert_jobs", lambda: upsert_documents(
        new, out, deleted_doc_ids=deleted, run_id="u1"))
    assert m["docs_changed"] == 3
    assert jobs <= 16
    statuses = {r["status"] for r in verify_manifests(spark, out).collect()}
    assert statuses == {"ok"}
