"""Synthesis of the interleaved text+media documents table.

``BASELINE.json`` ``input_hint`` mandates the pipeline input shape:

    doc_id: string,
    spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>

Everything here is deterministic column algebra (no UDFs, no RNG):
the JSON-LD payload is constructed with ``to_json(struct(...))``, then
split into text spans at fixed fractions, with media spans interleaved.
At 100 TB the same transforms run unchanged — they are pure
whole-stage-codegen expressions over the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SPAN_SCHEMA = ("array<struct<kind:string,text:string,media_ref:string,"
               "offset:int>>")

DOC_IRI_PREFIX = "http://example.org/doc/"
MEDIA_REF_PREFIX = "https://media.example/img/"
ASSOCIATED_MEDIA = "http://schema.org/associatedMedia"


def jsonld_payload_from_documents(docs: DataFrame,
                                  anonymous: bool = False) -> DataFrame:
    """documents(doc_id,text,lang,source,n_chars) → (doc_id, doc_json).

    Builds one JSON-LD document per row with absolute-IRI keys (no remote
    context needed), deterministic key order via to_json of a struct.
    ``anonymous=True`` omits ``@id`` — each document becomes a single
    blank node (the canonicalization exercise path).
    """
    fields = [
        F.col("text").alias("http://schema.org/text"),
        F.col("lang").alias("http://schema.org/inLanguage"),
        F.col("source").alias("http://purl.org/dc/terms/source"),
        F.col("n_chars").alias("http://example.org/nChars"),
    ]
    if not anonymous:
        fields.insert(0, F.concat(F.lit(DOC_IRI_PREFIX),
                                  F.col("doc_id").cast("string")).alias("@id"))
    return docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.to_json(F.struct(*fields)).alias("doc_json"),
    )


def interleave_spans(payloads: DataFrame, n_text_spans: int = 3,
                     with_media: bool = True) -> DataFrame:
    """(doc_id, doc_json) → (doc_id, spans) with the payload split into
    ``n_text_spans`` text spans at fixed fractions and a media span
    interleaved after the first text span (offset order preserved)."""
    ln = F.length("doc_json")
    spans = []
    prev_cut = F.lit(0)
    for i in range(n_text_spans):
        # cut points at i/n fractions; substring is 1-based
        cut = (ln * F.lit(i + 1) / F.lit(n_text_spans)).cast("int") \
            if i < n_text_spans - 1 else ln
        text = F.col("doc_json").substr(prev_cut + 1, (cut - prev_cut))
        spans.append(F.struct(
            F.lit("text").alias("kind"),
            text.alias("text"),
            F.lit("").alias("media_ref"),
            prev_cut.cast("int").alias("offset"),
        ))
        if with_media and i == 0:
            spans.append(F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit(MEDIA_REF_PREFIX),
                         F.regexp_replace("doc_id", "^doc-", ""),
                         F.lit(".jpg")).alias("media_ref"),
                cut.cast("int").alias("offset"),
            ))
        prev_cut = cut
    return payloads.select("doc_id", F.array(*spans).alias("spans"))


def interleaved_from_documents(spark: SparkSession, sf_dir: str,
                               n_text_spans: int = 3) -> DataFrame:
    """Full synthesis: driver documents parquet → interleaved-spans table."""
    from ..session import spread_partitions
    docs = spread_partitions(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return interleave_spans(jsonld_payload_from_documents(docs), n_text_spans)


def assemble_documents(interleaved: DataFrame) -> DataFrame:
    """(doc_id, spans) → (doc_id, doc_json, media_refs).

    Text spans concatenate in offset order to the JSON-LD payload; media
    spans contribute their refs. Pure column expressions (codegen'd);
    the offset sort makes the result independent of span array order.
    """
    sorted_spans = F.expr(
        "array_sort(spans, (l, r) -> CASE WHEN l.offset < r.offset THEN -1 "
        "WHEN l.offset > r.offset THEN 1 ELSE 0 END)")
    df = interleaved.withColumn("_s", sorted_spans)
    return df.select(
        "doc_id",
        F.expr("concat_ws('', transform(filter(_s, s -> s.kind = 'text'),"
               " s -> s.text))").alias("doc_json"),
        F.expr("transform(filter(_s, s -> s.kind = 'media'),"
               " s -> s.media_ref)").alias("media_refs"),
    )
