"""The engine's one Python batch boundary.

Every batch kernel (media codecs, dedup seeds, similarity signatures,
n-gram partials, the k-means step) crosses into Python through
``map_batches`` or ``map_groups``. A call site declares its output
schema once, as a Spark DDL string; the Arrow schema is derived from
it here, so the Spark plan and the Arrow batches cannot disagree.

A kernel takes one ``pa.RecordBatch`` (``pa.Table`` for a group) and
returns its output columns in schema order, as lists, numpy arrays or
Arrow arrays, or ``None`` for no rows. Each column is converted with
pyarrow's safe cast, so a value that does not fit its declared type
(an int64 >= 2^31 in an ``int`` field, a fractional double in a
``bigint``) raises instead of wrapping or truncating.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

Columns = Sequence | None


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema Spark uses for the DDL schema ``ddl`` (parsed by
    the active session's own DDL parser)."""
    return to_arrow_schema(DataType.fromDDL(ddl))


def to_batch(columns: Sequence, schema: pa.Schema) -> pa.RecordBatch:
    """Build one record batch of ``schema`` from columns in schema
    order, with a safe cast to each declared type. A column count that
    differs from the schema's raises."""
    arrays = [
        pa.array(c, type=f.type)
        for c, f in zip(columns, schema, strict=True)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def batch_runner(
    kernel: Callable[[pa.RecordBatch], Columns], schema: pa.Schema
) -> Callable:
    """The ``mapInArrow`` function around ``kernel``: skips empty input
    batches and ``None`` results, and carries the kernel's name, so the
    plan node reads ``MapInArrow <kernel name>``."""

    @functools.wraps(kernel)
    def run(batches):
        for batch in batches:
            if batch.num_rows:
                cols = kernel(batch)
                if cols is not None:
                    yield to_batch(cols, schema)

    return run


def map_batches(
    df: DataFrame,
    columns: Sequence[str],
    schema: str,
    kernel: Callable[[pa.RecordBatch], Columns],
) -> DataFrame:
    """``kernel`` over the Arrow batches of ``df`` projected to
    ``columns``, producing the DDL schema ``schema``."""
    run = batch_runner(kernel, arrow_schema(schema))
    return df.select(*columns).mapInArrow(run, schema)


def map_groups(
    df: DataFrame,
    keys: Sequence[str],
    columns: Sequence[str],
    schema: str,
    kernel: Callable[[pa.Table], Columns],
) -> DataFrame:
    """``applyInArrow`` of ``kernel`` over the groups of ``df``
    projected to ``columns`` and grouped by ``keys``; same kernel
    contract as ``map_batches``, one ``pa.Table`` per group."""
    out_schema = arrow_schema(schema)

    @functools.wraps(kernel)
    def run(table: pa.Table) -> pa.Table:
        cols = kernel(table)
        if cols is None:
            return out_schema.empty_table()
        return pa.Table.from_batches([to_batch(cols, out_schema)])

    return df.select(*columns).groupBy(*keys).applyInArrow(run, schema)


def vectors(batch: pa.RecordBatch | pa.Table, name: str, dtype) -> np.ndarray:
    """The array column ``name`` as an (n_rows, dim) numpy matrix of
    ``dtype``. Chunked and sliced columns decode like contiguous ones;
    a null or ragged vector raises, since it cannot be a matrix row."""
    col = batch.column(name)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    lengths = col.value_lengths().to_numpy(zero_copy_only=False)
    if col.null_count or (lengths != lengths[:1]).any():
        raise ValueError(
            f"column {name!r} needs equal-length non-null vectors"
        )
    vals = np.asarray(col.flatten(), dtype=dtype)
    return vals.reshape(n, lengths[0] if n else 0)
