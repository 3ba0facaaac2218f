"""Vectorized N-Quads serializer/parser stages (Arrow-batched).

Serialization needs the reference-exact escape rules
(RDFDatasetUtils.java:203-258) — codepoint-class escaping isn't
expressible with built-in SQL functions, so this is a pandas UDF
(Arrow batch transfer, never per-row Python). Parsing runs per line
through ``operators.kernels.map_rows``."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.nquads import parse_nquads, quad_to_nquad
from ..core.rdf import Quad
from ..operators.kernels import QUAD_FIELDS, map_rows


@F.pandas_udf("string")
def nquad_line(graph: pd.Series, subj: pd.Series, pred: pd.Series,
               obj_kind: pd.Series, obj_value: pd.Series,
               obj_datatype: pd.Series, obj_lang: pd.Series) -> pd.Series:
    out = []
    for g, s, p, ok, ov, od, ol in zip(graph, subj, pred, obj_kind,
                                       obj_value, obj_datatype, obj_lang):
        q = Quad(g, s, p, ok, ov,
                 od if pd.notna(od) else None,
                 ol if (ol is not None and pd.notna(ol)) else None)
        # quad_to_nquad appends " ."; strip no newline handling needed
        out.append(quad_to_nquad(q))
    return pd.Series(out)


def triples_to_nquads(triples: DataFrame) -> DataFrame:
    """Add an ``nq`` column with the serialized N-Quads line."""
    return triples.withColumn(
        "nq", nquad_line(*QUAD_FIELDS))


NQUAD_PARSED_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in QUAD_FIELDS])


def nquads_lines_to_triples(lines: DataFrame, line_col: str = "nq") -> DataFrame:
    """Parse a DataFrame of N-Quads lines into quad columns
    (reference grammar RDFDatasetUtils.java:260-287), Arrow-batched."""

    def parse(line):
        return parse_nquads(line, dedupe=False)

    return map_rows(lines, parse, NQUAD_PARSED_SCHEMA, [line_col])


def read_nquads(spark, path: str) -> DataFrame:
    """N-Quads file scan (S4): text files → quad columns. Each line
    parses independently (N-Quads is line-delimited), so the scan
    parallelizes over file splits; dataset-level dedup mirrors
    ``RDFDatasetUtils.parseNQuads`` (:362-368)."""
    lines = spark.read.text(path).withColumnRenamed("value", "nq") \
        .where(F.length(F.trim("nq")) > 0) \
        .where(~F.trim("nq").startswith("#"))
    return nquads_lines_to_triples(lines).dropDuplicates(QUAD_FIELDS)


def write_nquads(triples: DataFrame, path: str, mode: str = "error") -> None:
    """N-Quads sink (S5): quad columns → text files of serialized lines.
    One output file per partition; for a single globally-sorted file
    (the reference's ``toNQuads`` contract) coalesce(1) + sortWithin —
    only sensible for small exports."""
    triples_to_nquads(triples).select("nq").write.mode(mode).text(path)
