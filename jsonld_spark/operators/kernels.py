"""The Python side of the Arrow boundary, shared by every Python stage.

Per-document and per-component algorithms run inside Arrow batches
(vectorization is across documents or components) through one of two
runners:

* ``map_rows`` — one ``mapInArrow`` over the selected columns; the
  stage's function sees one row at a time, ``fn(key, *rest)``.
* ``map_groups`` — ``repartition(key)`` then ``mapInArrow``; the rows of
  a partition are regrouped by key and the function sees one group,
  ``fn(key, rows)``. An optional row cap is counted while batches stream
  in, so a giant group fails by name before the partition is held.

Either function returns a list of output tuples in the output schema's
column order. When that schema ends in an ``error`` column, a row or
group whose function raises becomes its ``error_row`` — ``(key, None,
…, "Type: message")`` — instead of failing the task — at 10^12 docs a single
malformed payload must not kill the stage. Without an ``error`` column
the exception fails the task.

The quad layout every triples frame shares is defined here once.
"""

from __future__ import annotations

import sys
from typing import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.rdf import Quad

QUAD_COLS = ["doc_id", "graph", "subj", "pred", "obj_kind", "obj_value",
             "obj_datatype", "obj_lang"]
# the Quad fields, in Quad order: a row read with these columns is a Quad
QUAD_FIELDS = QUAD_COLS[1:]

QUAD_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in QUAD_COLS + ["error"]])


def error_text(e: BaseException) -> str:
    """The ``error`` column text of a per-document failure."""
    return f"{type(e).__name__}: {e}"


def error_row(key, schema: T.StructType, e: BaseException) -> tuple:
    """The one row a failed key gives: the key, NULL outputs, the error
    text (``schema`` ends in ``error``)."""
    return (key, *(None,) * (len(schema) - 2), error_text(e))


def to_quads(rows) -> list[Quad]:
    """Rows in Quad field order (as read with ``QUAD_FIELDS``) as Quads."""
    return [Quad(*r) for r in rows]


class ComponentTooLargeError(RuntimeError):
    """A single bnode component exceeds its kernel's row cap."""

    def __init__(self, component, n_rows: int, cap: int):
        self.component, self.n_rows, self.cap = component, n_rows, cap
        super().__init__(
            f"bnode component {component!r} has at least {n_rows} quads "
            f"(cap {cap}): exact canonicalization of one component is "
            f"single-task by nature. Split the input (bnode labels "
            f"shared across this many documents usually indicate a "
            f"label-collision bug upstream) or raise "
            f"canonicalize.MAX_COMPONENT_ROWS if the memory is truly "
            f"available.")


def _pylist(col) -> list:
    """An Arrow column as a Python list. ``to_pylist`` builds an Arrow
    scalar per value (~20x slower on strings), so flat string and binary
    columns go through a numpy object array holding the same values."""
    if pa.types.is_string(col.type) or pa.types.is_binary(col.type):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def _columns(rb, cols: Sequence[str]) -> list[list]:
    """A batch's columns as Python lists; a column it lacks reads None."""
    names = rb.schema.names
    return [_pylist(rb.column(c)) if c in names else [None] * rb.num_rows
            for c in cols]


def _extend(out: list[list], rows: list[tuple]) -> None:
    """Append output rows to the output columns. Transposing per call
    keeps no row tuple alive across the batch: a batch-long list of
    tuples is tens of thousands of GC-tracked objects, and made the
    extract kernel 8-16 % slower (one process, 4,096 documents)."""
    for col, values in zip(out, zip(*rows)):
        col.extend(values)


def _batch(columns: list[list], arrow_schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)


def _isolating(fn: Callable, schema: T.StructType) -> Callable:
    """``fn``, or — when ``schema`` ends in ``error`` — ``fn`` with a raise
    turned into its ``error_row``."""
    if schema.names[-1] != "error":
        return fn

    def isolated(key, *args):
        try:
            return fn(key, *args)
        except Exception as e:  # noqa: BLE001 - per-key isolation
            return [error_row(key, schema, e)]

    return isolated


def _kernel(name: str, schema: T.StructType, body: Callable):
    """The mapInArrow function, named ``name`` (the plan's map node shows
    it), that turns the output columns ``body(batches)`` yields into
    Arrow batches of ``schema``."""
    def kernel(batches: Iterator) -> Iterator:
        # deep recursive documents and components: one recursion frame
        # budget well above the default
        if sys.getrecursionlimit() < 20000:
            sys.setrecursionlimit(20000)
        arrow_schema = to_arrow_schema(schema)
        for columns in body(batches):
            yield _batch(columns, arrow_schema)

    kernel.__name__ = name
    return kernel


def row_kernel(fn: Callable, schema: T.StructType, cols: Sequence[str],
               name: str | None = None):
    """The mapInArrow function of ``map_rows``."""
    call = _isolating(fn, schema)

    def body(batches):
        for rb in batches:
            out: list[list] = [[] for _ in schema]
            for row in zip(*_columns(rb, cols)):
                _extend(out, call(*row))
            yield out

    return _kernel(name or fn.__name__, schema, body)


def map_rows(df: DataFrame, fn: Callable, schema: T.StructType,
             cols: Sequence[str], name: str | None = None) -> DataFrame:
    """``fn(*row)`` over the ``cols`` of ``df`` → rows of ``schema``.
    Only the listed columns ``df`` has are selected; the rest read as
    None. The map node is named after ``fn`` unless ``name`` is given."""
    return df.select(*[c for c in cols if c in df.columns]).mapInArrow(
        row_kernel(fn, schema, cols, name), schema)


def group_kernel(key: str, fn: Callable, schema: T.StructType,
                 cols: Sequence[str], cap: int | None = None):
    """The mapInArrow function of ``map_groups``."""
    call = _isolating(fn, schema)
    limit = float("inf") if cap is None else cap

    def body(batches):
        groups: dict = {}
        for rb in batches:
            keys, *values = _columns(rb, [key, *cols])
            for k, row in zip(keys, zip(*values)):
                rows = groups.get(k)
                if rows is None:
                    rows = groups[k] = []
                rows.append(row)
                if len(rows) > limit:
                    raise ComponentTooLargeError(k, len(rows), cap)
        if groups:
            out: list[list] = [[] for _ in schema]
            for k, rows in groups.items():
                _extend(out, call(k, rows))
            yield out

    return _kernel(fn.__name__, schema, body)


def map_groups(df: DataFrame, key: str, fn: Callable, schema: T.StructType,
               cols: Sequence[str], cap: int | None = None) -> DataFrame:
    """``fn(key, rows)`` per distinct ``key`` of ``df`` → rows of
    ``schema``; ``rows`` are tuples of ``cols`` in arrival order, and
    groups run in first-arrival order. With ``cap``, a group passing
    ``cap`` rows raises ``ComponentTooLargeError`` as soon as its rows
    arrive. ``cap`` is read on the driver and shipped in the closure
    (executor workers re-import the module). The map node is named
    after ``fn``."""
    return df.repartition(key).mapInArrow(
        group_kernel(key, fn, schema, cols, cap), schema)
