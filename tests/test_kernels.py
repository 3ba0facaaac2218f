"""The Arrow kernel runners, called directly on hand-built batches (no
Spark session): what every per-document and per-component stage relies
on at the boundary."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from jsonld_spark.operators.kernels import (ComponentTooLargeError,
                                            QUAD_FIELDS, error_text,
                                            group_kernel, row_kernel,
                                            to_quads)

_OUT = T.StructType([T.StructField("doc_id", T.StringType()),
                     T.StructField("out", T.StringType()),
                     T.StructField("error", T.StringType())])


def _rows(batches) -> list[tuple]:
    return [tuple(r.values()) for rb in batches for r in rb.to_pylist()]


def _batch(**cols) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(cols)


def test_row_kernel_on_empty_input():
    kernel = row_kernel(lambda k, v: [(k, v, None)], _OUT, ["doc_id", "v"])
    assert list(kernel(iter([]))) == []
    empty = _batch(doc_id=pa.array([], pa.string()),
                   v=pa.array([], pa.string()))
    out = list(kernel(iter([empty])))
    assert len(out) == 1 and out[0].num_rows == 0
    assert out[0].schema == to_arrow_schema(_OUT)


def test_row_kernel_isolates_a_raising_row():
    def upper(doc_id, v):
        if v == "bad":
            raise ValueError("no good")
        return [(doc_id, v.upper(), None), (doc_id, v, None)]

    kernel = row_kernel(upper, _OUT, ["doc_id", "v"])
    out = _rows(kernel(iter([_batch(doc_id=["a", "b", "c"],
                                    v=["x", "bad", "y"])])))
    assert out == [("a", "X", None), ("a", "x", None),
                   ("b", None, "ValueError: no good"),
                   ("c", "Y", None), ("c", "y", None)]
    assert error_text(ValueError("no good")) == "ValueError: no good"


def test_row_kernel_without_error_column_raises():
    schema = T.StructType([T.StructField("v", T.StringType())])

    def boom(v):
        raise KeyError(v)

    with pytest.raises(KeyError):
        list(row_kernel(boom, schema, ["v"])(iter([_batch(v=["a"])])))


def test_absent_optional_column_reads_none():
    seen = []

    def fn(doc_id, v, extra):
        seen.append(extra)
        return [(doc_id, v, None)]

    kernel = row_kernel(fn, _OUT, ["doc_id", "v", "extra"])
    out = _rows(kernel(iter([_batch(doc_id=["a", "b"], v=["1", "2"])])))
    assert seen == [None, None]
    assert out == [("a", "1", None), ("b", "2", None)]


def test_typed_outputs_match_the_spark_schema():
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
        T.StructField("n_bytes", T.LongType())])

    def fn(doc_id, content):
        return [(doc_id, i, [b / 255.0 for b in content], len(content))
                for i in range(2)]

    kernel = row_kernel(fn, schema, ["doc_id", "content"])
    out = list(kernel(iter([_batch(doc_id=pa.array([7], pa.int64()),
                                   content=pa.array([b"\x00\xff"],
                                                    pa.binary()))])))
    assert out[0].schema == to_arrow_schema(schema)
    assert _rows(out) == [(7, 0, [0.0, 1.0], 2), (7, 1, [0.0, 1.0], 2)]


def test_kernel_is_named_after_its_function():
    def extract(doc_id, v):
        return []

    assert row_kernel(extract, _OUT, ["doc_id", "v"]).__name__ == "extract"
    assert row_kernel(extract, _OUT, ["doc_id"], name="x").__name__ == "x"
    assert group_kernel("k", extract, _OUT, ["v"]).__name__ == "extract"


def test_group_kernel_regroups_across_batches():
    def count(key, rows):
        if key == "bad":
            raise RuntimeError("boom")
        return [(key, ",".join(v for (v,) in rows), None)]

    kernel = group_kernel("k", count, _OUT, ["v"])
    out = _rows(kernel(iter([_batch(k=["a", "b", "a"], v=["1", "2", "3"]),
                             _batch(k=["bad", "b"], v=["4", "5"])])))
    assert out == [("a", "1,3", None), ("b", "2,5", None),
                   ("bad", None, "RuntimeError: boom")]
    assert list(kernel(iter([]))) == []


def test_group_kernel_rows_are_quads():
    got = []
    kernel = group_kernel("doc_id", lambda k, rows: got.extend(
        to_quads(rows)) or [], _OUT, QUAD_FIELDS)
    row = ["@default", "_:b0", "http://p", "literal", "v",
           "http://www.w3.org/2001/XMLSchema#string", None]
    list(kernel(iter([_batch(doc_id=["d"], **{
        c: pa.array([v], pa.string()) for c, v in zip(QUAD_FIELDS, row)})])))
    assert [tuple(q) for q in got] == [tuple(row)]
    assert got[0].subj == "_:b0"


def test_cap_raises_before_a_later_batch_is_consumed():
    consumed = []

    def batches():
        for i, keys in enumerate((["c"] * 3, ["c"] * 2, ["d"])):
            consumed.append(i)
            yield _batch(k=keys, v=[str(j) for j in range(len(keys))])

    kernel = group_kernel("k", lambda k, rows: [], _OUT, ["v"], cap=4)
    with pytest.raises(ComponentTooLargeError,
                       match="bnode component 'c' has at least 5 quads"):
        list(kernel(batches()))
    assert consumed == [0, 1]
    # at the cap exactly, nothing raises
    ok = group_kernel("k", lambda k, rows: [(k, str(len(rows)), None)],
                      _OUT, ["v"], cap=5)
    assert _rows(ok(batches())) == [("c", "5", None), ("d", "1", None)]
