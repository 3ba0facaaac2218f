"""Structured Streaming ingestion of interleaved documents.

The reference is strictly synchronous batch (SURVEY.md §2.3 — no
streaming anywhere in jsonld-java), so these operators have no parity
fixture; semantics are defined by our tests: a stream run over the same
files must equal the batch pipeline's output.

Design: the batch stage itself (``docs_to_triples``: span assembly,
then ``extract_quads`` with fused media emission) applied to a
``readStream`` source — Structured Streaming's incremental planner
handles the rest; a graph-upsert micro-batch is a bounded batch and
runs the whole stage, dedup included. Exactly-once lands on the file
sink's commit log plus the checkpoint directory: restarting a killed
stream resumes from the last committed micro-batch, the streaming
analogue of the batch layer's per-partition lineage manifests
(operators/materialize.py).

Global ``dropDuplicates`` is deliberately NOT applied in-stream (the
reference's quad dedup is a whole-dataset property; unbounded state in
a stream). Duplicates within a document are already removed per-doc in
the extract UDF; cross-batch global dedup belongs in a downstream batch
compaction over the landed table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.pipeline import QUAD_COLS, docs_to_triples

# file streams need an explicit schema (no inference at stream start)
INTERLEAVED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]))),
])


def stream_interleaved(spark: SparkSession, input_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of interleaved-docs parquet.
    ``maxFilesPerTrigger`` bounds micro-batch size (backpressure knob at
    scale; at 100 TB you'd bound bytes via maxBytesPerTrigger on a
    cloud-files source instead)."""
    reader = spark.readStream.schema(INTERLEAVED_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def start_triple_ingest(spark: SparkSession, input_dir: str, out_dir: str,
                        checkpoint_dir: str, available_now: bool = True):
    """Start (or resume, if the checkpoint exists) the ingest stream:
    parquet-in → triples → parquet-out with exactly-once file commits."""
    # the batch stage without its global dedup (module docstring)
    triples = docs_to_triples(stream_interleaved(spark, input_dir),
                              dedupe=False)
    writer = (triples.select(*QUAD_COLS).writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_graph_upsert_stream(spark: SparkSession, input_dir: str,
                              out_dir: str, checkpoint_dir: str,
                              available_now: bool = True):
    """Stream incremental document batches INTO a materialized graph:
    each micro-batch's documents upsert their triples in place
    (``operators.materialize.upsert_documents`` — only affected buckets
    rewritten, doc→bucket index lookup).

    End-to-end effectively-once: the streaming checkpoint replays an
    uncommitted micro-batch after a crash, and replaying the same upsert
    is idempotent (affected buckets rewrite to identical content), so a
    redelivered batch cannot duplicate or lose triples. The graph must
    already be materialized (``materialize_graph``) — the upsert layer
    refuses to invent a bucketing.
    """
    from ..operators.materialize import upsert_documents

    def _upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_documents(docs_to_triples(batch_df), out_dir,
                         run_id=f"stream-{batch_id}")

    writer = (stream_interleaved(spark, input_dir).writeStream
              .foreachBatch(_upsert_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(events: DataFrame, window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Late-data-tolerant windowed aggregation over an event stream:
    watermark bounds state; counts+sums per (window, event_type)."""
    return (events
            # watermarks require TIMESTAMP (with zone); NTZ sources cast
            # through the session zone (pinned UTC in session.py)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))
