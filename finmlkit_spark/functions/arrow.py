"""The one Arrow kernel boundary: the only place where Spark batches
become NumPy arrays and NumPy results become Spark batches.

Map kernels run through :func:`map_batches` (one output per input
batch) or :func:`map_partitions` (a generator over a partition's
batches, for per-partition folds); grouped kernels run through
:func:`groups` (one output per group, its rows sorted); column kernels
run through :func:`column`. The boundary owns four jobs:

- **Batching and empty input.** A zero-row batch never reaches a
  kernel, and a partition (or column batch) without rows produces no
  kernel call, nor does a group (a group always has rows); an empty
  input gives zero rows in the declared schema.
- **The NumPy/Arrow format.** A kernel receives ``{name: array}``:
  primitive, string and binary columns as NumPy arrays (the pandas
  conversions: nullable ints and NULL floats as float64 NaN, strings and
  bytes as objects), list and struct columns as the pyarrow arrays
  themselves, for :func:`vectors` / :func:`segments`.
- **NULLs.** A float NaN in a kernel's output becomes NULL (as on the
  pandas path); so does a masked entry of a ``numpy.ma`` array and a
  Python ``None``. int64 values stay exact at any magnitude.
- **Output schema.** Outputs are built in the declared schema's column
  order and types: a DDL string, a ``StructType`` or an ordered
  ``{name: type}`` mapping (a type is a DDL string or a ``DataType``).
  A kernel returns ``{name: column}`` (names outside the schema are
  ignored) or a list of row tuples in schema order; a column is a NumPy
  array (masked or not), a sequence or, for a list column, an
  ``(n, d)`` matrix.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import (
    DataType,
    StructField,
    StructType,
    _parse_datatype_string,
)


def _spark_type(t) -> DataType:
    """A DDL string, a ``DataType`` or a ``{name: type}`` mapping as a
    Spark type."""
    if isinstance(t, DataType):
        return t
    if isinstance(t, dict):
        return StructType([StructField(n, _spark_type(v)) for n, v in t.items()])
    return _parse_datatype_string(t)


def _numpy(a):
    """One input column as the kernel sees it (module docstring)."""
    if pa.types.is_nested(a.type):
        return a
    return a.to_numpy(zero_copy_only=False)


def _arrow(v, t: pa.DataType) -> pa.Array:
    """One kernel output column as an Arrow array of type ``t``."""
    if pa.types.is_struct(t):
        return pa.StructArray.from_arrays(
            [_arrow(v[f.name], f.type) for f in t], fields=list(t)
        )
    if pa.types.is_list(t) and isinstance(v, np.ndarray) and v.ndim == 2:
        n, d = v.shape
        offsets = pa.array(np.arange(n + 1, dtype=np.int32) * d)
        return pa.ListArray.from_arrays(offsets, _arrow(v.reshape(-1), t.value_type), type=t)
    if isinstance(v, np.ma.MaskedArray):
        return pa.array(v.data, type=t, mask=np.ma.getmaskarray(v))
    return pa.array(v, type=t, from_pandas=True)


def segments(arr) -> tuple[np.ndarray, np.ndarray]:
    """A list column as ``(values, offsets)``: row ``i`` is
    ``values[offsets[i]:offsets[i + 1]]`` (a NULL row is empty)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy()
    return arr.flatten().to_numpy(zero_copy_only=False), offsets - offsets[0]


def vectors(arr) -> np.ndarray:
    """A list column as an ``(n, d)`` float64 matrix; raises
    ``ValueError`` when the rows do not all have one width."""
    values, offsets = segments(arr)
    widths = np.diff(offsets)
    if widths.size and (widths != widths[0]).any():
        raise ValueError("ragged vectors: every row needs the same width (pad upstream)")
    d = int(widths[0]) if widths.size else 0
    return values.astype(np.float64, copy=False).reshape(len(widths), d)


def _columns(batch: pa.RecordBatch) -> dict:
    """One input batch as the kernel sees it: ``{name: array}``."""
    return {n: _numpy(c) for n, c in zip(batch.schema.names, batch.columns)}


def _batch(out, schema: pa.Schema) -> pa.RecordBatch:
    """One kernel output (``{name: column}`` or row tuples in schema
    order) as a batch of ``schema``."""
    if isinstance(out, list):
        out = dict(zip(schema.names, list(zip(*out)) or [()] * len(schema)))
    return pa.RecordBatch.from_arrays(
        [_arrow(out[f.name], f.type) for f in schema], schema=schema
    )


def map_partitions(df: DataFrame, kernel, schema) -> DataFrame:
    """``kernel(batches)`` is a generator over one partition's non-empty
    batches (each ``{name: array}``) that yields output mappings; it is
    not called for a partition without rows."""
    st = _spark_type(schema)
    out_schema = to_arrow_schema(st)

    def run(batches):
        cols = (_columns(b) for b in batches if b.num_rows)
        first = next(cols, None)
        if first is None:
            return
        for out in kernel(itertools.chain([first], cols)):
            yield _batch(out, out_schema)

    return df.mapInArrow(run, st)


def map_batches(df: DataFrame, kernel, schema) -> DataFrame:
    """``kernel(cols)`` once per non-empty batch, returning that batch's
    output (``{name: column}`` or row tuples)."""
    return map_partitions(df, lambda batches: map(kernel, batches), schema)


def groups(df: DataFrame, by, kernel, schema, order=()) -> DataFrame:
    """``kernel(cols)`` once per group of ``df`` by the column(s) ``by``
    (``None``: all rows are one group), its rows sorted by the columns
    ``order`` (a stable sort: ties keep their input order), returning
    that group's output (``{name: column}`` or row tuples)."""
    st = _spark_type(schema)
    out_schema = to_arrow_schema(st)
    keys = [(c, "ascending") for c in order]

    def run(table):
        if keys:
            table = table.sort_by(keys)
        (batch,) = table.combine_chunks().to_batches()
        return pa.Table.from_batches([_batch(kernel(_columns(batch)), out_schema)])

    by = [F.lit(True)] if by is None else [by] if isinstance(by, str) else list(by)
    return df.groupBy(*by).applyInArrow(run, st)


def column(kernel, return_type):
    """A column function ``f(*cols) -> Column`` running
    ``kernel(*arrays)`` (arrays as in :func:`map_batches`) over each
    non-empty Arrow batch; a struct ``return_type`` takes a
    ``{field: column}`` result."""
    t = _spark_type(return_type)
    at = to_arrow_type(t)

    def run(*arrs: pa.Array) -> pa.Array:
        if len(arrs[0]) == 0:
            return pa.array([], type=at)
        return _arrow(kernel(*map(_numpy, arrs)), at)

    run.__name__ = kernel.__name__  # the column name Spark shows unaliased
    return F.arrow_udf(run, t)
