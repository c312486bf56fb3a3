"""Zero-copy Arrow↔numpy plumbing for the vector kernels.

The first generation of every embedding/token kernel here used
``mapInPandas``, whose list columns arrive as pandas OBJECT Series —
one Python list per row — so each kernel pass paid a per-row
interpreter loop (``np.array([np.asarray(v) for v in pdf[col]])``)
before any numpy math ran. Measured at 200k×64 doubles that loop is
~1.07 s per pass while the same data as an Arrow ListArray flattens
to the identical ndarray in ~0.2 ms (values buffer reshaped in place,
zero copies): the conversion, not the math, dominated the Python side
of every training/assignment pass at stress scale.

``mapInArrow`` hands the kernel the raw ``pyarrow.RecordBatch``
stream, so these helpers replace the row loop:

* ``fixed_vecs``    — (n,d) float64 matrix from a list<float/double>
  column whose rows all share one length (embeddings).
* ``ragged_values`` — (flat values, row bounds) int64 views from a
  variable-length list column (hashed token arrays); ``bounds`` is the
  ``np.minimum.reduceat`` segment form the MinHash kernel already uses.
* ``rows_to_list_array`` — (n,k) ndarray back to a ``list<T>`` Arrow
  array for the output batch.

Values are bit-identical to the pandas route (both yield the same
float64/int64 buffers), so kernels migrated onto these helpers cannot
perturb any hash-compared oracle — only the per-batch constant factor
changes. ``flatten()`` (not ``.values``) is used everywhere so sliced
batches — Arrow slices on the 10k-row ``maxRecordsPerBatch`` boundary —
read only their own rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _plain(col: pa.Array | pa.ChunkedArray) -> pa.Array:
    """One contiguous Array from a possibly-chunked column."""
    if isinstance(col, pa.ChunkedArray):
        return col.combine_chunks()
    return col


def fixed_vecs(col, d: int | None = None, dtype=np.float64) -> np.ndarray:
    """(n, d) matrix view of a list column with equal-length rows.
    ``d`` is inferred from the FIRST row's length when omitted (not
    ``len(flat)//n``, which a ragged column whose total element count
    happens to divide by n would satisfy while shifting row data across
    rows). Rows are assumed non-null (all vector columns here are built
    that way); any ragged row — whether or not the totals divide — now
    fails the ``n*d`` check loudly instead of mis-reshaping."""
    arr = _plain(col)
    n = len(arr)
    if n == 0:
        return np.empty((0, d or 0), dtype=dtype)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    if d is None:
        import pyarrow.compute as pc

        d = pc.list_value_length(arr)[0].as_py()
    if len(flat) != n * d:
        raise ValueError(
            f"fixed_vecs expects uniform rows of length {d}, "
            f"got {len(flat)} elements over {n} rows"
        )
    return flat.reshape(n, d)


def ragged_values(col, dtype=np.int64) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(values, lens, bounds) for a variable-length list column:
    ``values`` is the flat element buffer, ``lens[i]`` the i-th row's
    length, and ``bounds`` the start offset of every NON-EMPTY row —
    exactly the segment-boundary form ``np.minimum.reduceat`` consumes.
    (reduceat cannot represent empty segments; callers mask them with
    ``lens > 0`` the same way the pandas kernels did.)"""
    arr = _plain(col)
    values = arr.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    import pyarrow.compute as pc

    lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False).astype(np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    return values, lens, starts[lens > 0]


def int_col(col, dtype=np.int64) -> np.ndarray:
    """Flat numpy view of a scalar numeric column."""
    return _plain(col).to_numpy(zero_copy_only=False).astype(dtype, copy=False)


def rows_to_list_array(mat: np.ndarray, value_type: pa.DataType) -> pa.ListArray:
    """(n, k) ndarray → list<value_type> Arrow array (one row per list)."""
    n, k = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * k, k, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), type=value_type))


def local_frame(spark, rows: list[tuple], schema):
    """Driver-resident ``rows`` (tuples in ``schema`` field order) as a
    Spark DataFrame over a ``LocalRelation``: built through one Arrow
    table, so the plan embeds the rows and a scan of them runs no job.
    (``createDataFrame`` of a Python list instead ships the rows as an
    RDD that every action re-reads through Python workers — measured
    0.5-0.8 s per action on a 100-row frame, against 0.02-0.08 s
    here.) Field metadata rides along with ``schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
