"""The spark-submit deliverable end to end: run, resume, metrics."""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

sys.path.insert(0, "scripts")

from jsonld_spark.operators.materialize import read_graph, verify_manifests
from jsonld_spark.sources.interleaved import interleaved_from_documents

SF_DIR = "/root/testdata/sf0.001"


def test_run_pipeline_and_resume(spark, tmp_path, capsys):
    import run_pipeline

    inp = str(tmp_path / "docs")
    out = str(tmp_path / "kg")
    interleaved_from_documents(spark, SF_DIR).write.parquet(inp)

    rc = run_pipeline.main(["--input", inp, "--output", out,
                            "--n-buckets", "8", "--run-id", "r1"])
    assert rc == 0
    m1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m1["pending"] == 8 and m1["errors"] == 0 and m1["rows"] > 0

    graph = read_graph(spark, out)
    assert graph.count() == m1["rows"]
    assert {r["status"] for r in verify_manifests(spark, out).collect()} \
        == {"ok"}
    # media links made it through the fused path
    assert graph.where(
        F.col("pred") == "http://schema.org/associatedMedia").count() > 0

    # second run: everything already manifested -> nothing rewritten
    rc = run_pipeline.main(["--input", inp, "--output", out,
                            "--n-buckets", "8", "--run-id", "r2"])
    assert rc == 0
    m2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m2["pending"] == 0 and m2["skipped"] == 8


def test_run_pipeline_upsert_refreshes_changed_docs(spark, tmp_path, capsys):
    """--upsert with a batch of changed documents rewrites only their
    triples; everything else survives byte-identically."""
    import run_pipeline

    inp = str(tmp_path / "docs")
    out = str(tmp_path / "kg")
    docs = interleaved_from_documents(spark, SF_DIR)
    docs.write.parquet(inp)
    run_pipeline.main(["--input", inp, "--output", out,
                       "--n-buckets", "8", "--run-id", "r1"])
    capsys.readouterr()
    before_rows = sorted(map(tuple, read_graph(spark, out).collect()))
    changed_ids = [r.doc_id for r in
                   docs.select("doc_id").limit(3).collect()]
    doc_idx = read_graph(spark, out).columns.index("doc_id")
    untouched_before = sorted(r for r in before_rows
                              if r[doc_idx] not in changed_ids)

    # re-submit just those three docs as the incremental batch
    batch = str(tmp_path / "batch")
    docs.where(F.col("doc_id").isin(changed_ids)).write.parquet(batch)
    rc = run_pipeline.main(["--input", batch, "--output", out,
                            "--run-id", "u1", "--upsert"])
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["docs_changed"] == 3 and m["affected"] >= 1

    after_rows = sorted(map(tuple, read_graph(spark, out).collect()))
    untouched_after = sorted(r for r in after_rows
                             if r[doc_idx] not in changed_ids)
    assert untouched_before == untouched_after
    # same docs re-extracted with identical content -> identical triples
    assert before_rows == after_rows
    assert {r["status"] for r in verify_manifests(spark, out).collect()} \
        == {"ok"}


def test_audit_flag_reports_and_detects_corruption(spark, tmp_path, capsys):
    import shutil

    import run_pipeline

    inp = str(tmp_path / "docs")
    out = str(tmp_path / "kg")
    interleaved_from_documents(spark, SF_DIR).write.parquet(inp)
    run_pipeline.main(["--input", inp, "--output", out,
                       "--n-buckets", "8", "--run-id", "r1"])
    capsys.readouterr()

    rc = run_pipeline.main(["--output", out, "--audit"])
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and m["audit"] == {"ok": 8} and m["bad_parts"] == []

    shutil.rmtree(f"{out}/triples/part=3")  # simulate lost bucket
    rc = run_pipeline.main(["--output", out, "--audit"])
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and m["bad_parts"] == [3]


def test_run_pipeline_checkpoints_under_output(spark, tmp_path, capsys,
                                               monkeypatch):
    """Without --checkpoint-dir the lineage cuts are reliable checkpoints
    under <output>/_checkpoints; the directory is gone after the run and
    the session's checkpoint setting is restored."""
    import os

    import run_pipeline
    from jsonld_spark import session

    inp = str(tmp_path / "docs")
    out = str(tmp_path / "kg")
    docs = interleaved_from_documents(spark, SF_DIR)
    docs.write.parquet(inp)
    run_pipeline.main(["--input", inp, "--output", out,
                       "--n-buckets", "8", "--run-id", "r1"])
    batch = str(tmp_path / "batch")
    docs.limit(2).write.parquet(batch)

    seen = []
    real_cut = session.cut_lineage

    def spy(df):
        d = df.sparkSession.sparkContext._jsc.sc().getCheckpointDir()
        seen.append(d.get() if d.isDefined() else None)
        return real_cut(df)

    monkeypatch.setattr(session, "cut_lineage", spy)
    capsys.readouterr()
    rc = run_pipeline.main(["--input", batch, "--output", out,
                            "--run-id", "u1", "--upsert"])
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["docs_changed"] == 2
    assert seen and all(d is not None and f"{out}/_checkpoints/" in d
                        for d in seen)
    assert not os.path.exists(f"{out}/_checkpoints")
    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    assert {r["status"] for r in verify_manifests(spark, out).collect()} \
        == {"ok"}
