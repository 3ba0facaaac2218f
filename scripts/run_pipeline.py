#!/usr/bin/env python
"""End-to-end KG-construction job — the spark-submit deliverable.

    spark-submit --py-files jsonld_spark.zip scripts/run_pipeline.py \
        --input  /data/interleaved_docs   (doc_id, spans[...])       \
        --output /warehouse/kg            (triples/ + manifests/)    \
        [--canonicalize] [--link-sameas] [--n-buckets 4096]          \
        [--run-id r42] [--upsert [--delete-docs ids.parquet]]

Stages: scan → assemble spans → expand+toRDF (Arrow batches, fused
media links, per-doc error capture) → [distributed c14n] → [entity
linking over owl:sameAs edges] → subject-bucketed materialization with
per-partition lineage manifests. Re-running the same command resumes:
only buckets without committed manifests are rewritten. With
``--upsert`` the input is an incremental batch: those documents'
triples replace their previous versions in the existing graph (doc →
bucket index lookup, only affected buckets rewritten).

Iterative operators (c14n, linking, the upsert's lineage cuts) use
reliable checkpoints under ``<output>/_checkpoints`` unless
``--checkpoint-dir`` names another directory; the default one is
removed after a successful run.

Prints one JSON metrics line (rows, pending/skipped buckets, error
count, wall seconds) — the per-stage metrics hook the north rule asks
for.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F

from jsonld_spark.operators.canonicalize import canonicalize_triples
from jsonld_spark.operators.linking import connected_components, link_triples
from jsonld_spark.operators.materialize import (_delete_path,
                                                materialize_graph,
                                                upsert_documents)
from jsonld_spark.operators.pipeline import extract_quads
from jsonld_spark.session import get_spark
from jsonld_spark.sources.interleaved import assemble_documents

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None,
                   help="interleaved-docs parquet (required unless --audit)")
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default="r0")
    p.add_argument("--n-buckets", type=int, default=4096)
    p.add_argument("--canonicalize", action="store_true")
    p.add_argument("--labels", choices=["component", "reference"],
                   default="component",
                   help="c14n numbering: disjoint per-component ranges "
                        "(default) or the reference's byte-exact global "
                        "interleave")
    p.add_argument("--checkpoint-dir", default=None,
                   help="directory for the RELIABLE checkpoints of "
                        "iterative operators (survive executor loss); "
                        "default <output>/_checkpoints, removed after a "
                        "successful run")
    p.add_argument("--link-sameas", action="store_true")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--upsert", action="store_true",
                   help="incremental refresh: --input holds ONLY new/"
                        "changed documents; their triples replace those "
                        "docs' previous triples in --output (other docs "
                        "untouched, only affected buckets rewritten)")
    p.add_argument("--delete-docs", default=None,
                   help="with --upsert: parquet of (doc_id) to remove")
    p.add_argument("--audit", action="store_true",
                   help="no pipeline run: recompute per-bucket "
                        "fingerprints of --output and diff against the "
                        "manifests; exits 1 unless every bucket is ok")
    args = p.parse_args(argv)
    if not args.audit and not args.input:
        p.error("--input is required unless --audit")

    t0 = time.time()
    spark = get_spark("jsonld-kg-pipeline")
    if args.audit:
        from jsonld_spark.operators.materialize import verify_manifests
        statuses = {r["part"]: r["status"]
                    for r in verify_manifests(spark, args.output).collect()}
        counts: dict[str, int] = {}
        for s in statuses.values():
            counts[s] = counts.get(s, 0) + 1
        print(json.dumps({"audit": counts,
                          "bad_parts": sorted(
                              p for p, s in statuses.items() if s != "ok"),
                          "total_wall_s": round(time.time() - t0, 2)}))
        return 0 if set(counts) <= {"ok"} else 1
    ckpt = args.checkpoint_dir or f"{args.output.rstrip('/')}/_checkpoints"
    jsc = spark.sparkContext._jsc.sc()
    prev_ckpt = jsc.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        metrics, n_errors = _build(spark, args)
    finally:
        # restore the session's setting: it may outlive this run
        getattr(jsc, "checkpointDir_$eq")(prev_ckpt)
    if not args.checkpoint_dir:
        _delete_path(spark, ckpt)
    metrics.update({"errors": int(n_errors),
                    "total_wall_s": round(time.time() - t0, 2),
                    "run_id": args.run_id})
    print(json.dumps(metrics))
    return 0


def _build(spark, args) -> tuple[dict, int]:
    """Scan → extract → [c14n] → [linking] → materialize or upsert:
    (their metrics, error document count)."""
    interleaved = spark.read.parquet(args.input)
    assembled = assemble_documents(interleaved)
    quads = extract_quads(assembled, include_media=True).persist()

    n_errors = quads.where(F.col("error").isNotNull()).count()
    triples = quads.where(F.col("error").isNull()).drop("error") \
                   .dropDuplicates()

    if args.canonicalize:
        triples = canonicalize_triples(triples, labels=args.labels)
    if args.link_sameas:
        edges = (triples.where(F.col("pred") == OWL_SAMEAS)
                 .where(F.col("obj_kind") == "iri")
                 .select(F.col("subj").alias("src"),
                         F.col("obj_value").alias("dst")))
        comps = connected_components(edges)
        triples = link_triples(triples, comps) \
            .where(F.col("pred") != OWL_SAMEAS)

    if args.upsert:
        deleted = (spark.read.parquet(args.delete_docs)
                   if args.delete_docs else None)
        metrics = upsert_documents(triples, args.output,
                                   deleted_doc_ids=deleted,
                                   run_id=args.run_id)
    else:
        metrics = materialize_graph(triples, args.output,
                                    n_buckets=args.n_buckets,
                                    run_id=args.run_id,
                                    resume=not args.no_resume,
                                    input_id=args.input)
    quads.unpersist()
    return metrics, n_errors


if __name__ == "__main__":
    sys.exit(main())
