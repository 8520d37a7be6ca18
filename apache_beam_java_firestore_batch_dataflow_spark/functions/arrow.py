"""The one boundary where a Python kernel's values cross into and out of
Spark: Arrow record batches, never pandas frames.

Every operator kernel runs under ``mapInArrow`` or a (cogrouped)
``applyInArrow`` (:func:`map_batches`, :func:`apply_groups`, or its own
generator), reads its input columns straight off the batch and hands
its output columns to :func:`to_batch`.  With no pandas frame in
between, a float NaN stays NaN (pandas' Arrow conversion masks it to
NULL), int64 stays exact, and NULL appears only where a kernel emitted
``None``.  Output schemas are parsed from DDL on the driver
(:func:`arrow_schema`) and travel in the kernel's closure: executors
have no JVM to parse DDL.
"""

from __future__ import annotations

from collections.abc import Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema Spark expects back for the flat DDL ``ddl``
    (driver only)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def to_batch(cols, schema: pa.Schema) -> pa.RecordBatch:
    """A batch of exactly ``schema``'s types from one numpy array or
    Python sequence per field (in field order, or a mapping by name).
    Empty columns give a zero-row batch."""
    if isinstance(cols, Mapping):
        cols = [cols[f.name] for f in schema]
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema, strict=True)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def map_batches(df, kernel, ddl: str):
    """``df.mapInArrow`` of ``kernel(batch) -> columns`` (as ``to_batch``
    takes them) over every non-empty batch, emitting rows of ``ddl``."""
    schema = arrow_schema(ddl)

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                yield to_batch(kernel(batch), schema)

    run.__name__ = kernel.__name__
    return df.mapInArrow(run, schema=ddl)


def apply_groups(grouped, kernel, ddl: str):
    """``applyInArrow`` of ``kernel(table) -> columns`` over each group of
    a ``groupBy``, or of ``kernel(left, right)`` over each cogroup,
    emitting rows of ``ddl``."""
    from pyspark.sql.pandas.group_ops import PandasCogroupedOps

    schema = arrow_schema(ddl)

    def table(cols) -> pa.Table:
        return pa.Table.from_batches([to_batch(cols, schema)])

    if isinstance(grouped, PandasCogroupedOps):
        def run(left, right):
            return table(kernel(left, right))
    else:
        def run(group):
            return table(kernel(group))
    run.__name__ = kernel.__name__
    return grouped.applyInArrow(run, schema=ddl)


def py_values(col) -> list:
    """A column's values as Python objects, through numpy (~20x faster
    than ``to_pylist``) unless the column has a NULL: numpy would turn a
    nullable int into a float."""
    if col.null_count:
        return col.to_pylist()
    return col.to_numpy(zero_copy_only=False).tolist()


def emb_matrix(col) -> np.ndarray:
    """The float64 ``[n, d]`` matrix of a ``list<float>`` column, one row
    per list, decoded in one reshape of the flattened values.  Raises on
    a NULL row or on rows of different lengths."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"embedding column has {col.null_count} NULL row(s)")
    if len(col) == 0:
        return np.empty((0, 0))
    lens = pc.min_max(pc.list_value_length(col)).as_py()
    if lens["min"] != lens["max"]:
        raise ValueError(f"ragged embedding rows: lengths {lens['min']}..{lens['max']}")
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(col), lens["max"])
