"""The one Arrow boundary of every per-batch Python operator (feature
kernels, media decoders, tokenizer, text and dedup hashes, vector
transforms): the operator supplies a per-batch ``body`` and
``arrow_stage`` owns the shuffle-free ``mapInArrow`` stage around it."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
import pyspark.sql.types as T


def arrow_stage(df: DataFrame, out, body, carry=()) -> DataFrame:
    """One mapInArrow stage over ``df``; zero-row batches are skipped.

    ``body(batch)`` returns ``(rows, {column: values})``. ``rows`` maps
    output rows to input rows: None (row i -> row i), row indices, or a
    boolean mask. Each ``carry`` column is taken from those rows with
    its input type; it sits where ``out`` (a DDL string or StructType)
    names it, or first when ``out`` does not name it. The other columns
    are typed from ``out``; their values are Arrow arrays (used as they
    are) or anything ``pa.array`` converts."""
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(out, str):
        out = T.StructType.fromDDL(out)
    fields = {f.name: f for f in out.fields}
    names = [c for c in carry if c not in fields] + list(fields)
    types = {c: to_arrow_type(fields[c].dataType)
             for c in names if c not in carry}
    schema = T.StructType([fields[c] if c in types else df.schema[c]
                           for c in names])

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            rows, vals = body(batch)
            if rows is not None:
                rows = np.asarray(rows)
                mask = rows.dtype == bool
                rows = pa.array(rows if mask else rows.astype(np.int64))
            cols = []
            for c in names:
                if c in types:
                    v = vals[c]
                    if not isinstance(v, pa.Array):
                        v = pa.array(v, type=types[c])
                else:
                    v = batch.column(c)
                    if rows is not None:
                        v = v.filter(rows) if mask else v.take(rows)
                cols.append(v)
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(run, schema)


def fixed_list(mat: np.ndarray):
    """(n, w) matrix -> Arrow list column of n rows of w values each."""
    import pyarrow as pa

    n, w = mat.shape
    offs = pa.array((np.arange(n + 1, dtype=np.int64) * w).astype(np.int32))
    return pa.ListArray.from_arrays(offs, pa.array(mat.reshape(-1)))
