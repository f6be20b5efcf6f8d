"""The dedup scan (the paper's ``build -> update(value)*``): one
``mapInArrow`` pass reads the id and the raw columns a sketch needs, runs
a numpy kernel over each Arrow batch and emits the sketch columns; the raw
columns die in it. Its output is opaque to the optimizer, so no filter on
it is pushed below the pass to run the kernel twice, as one on a Python
UDF's output can be."""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame


def sketch_pass(df: DataFrame, id_col: str, inputs: list[Column | str],
                kernel: Callable, fields: str) -> DataFrame:
    """DataFrame[id_col, *fields] (``fields`` in DDL): ``kernel(batch)``
    over every non-empty Arrow batch of ``id_col`` plus ``inputs``. The
    kernel returns ``(rows, columns)``: the fields' arrays by name, and
    the batch rows they belong to as an index array (None: every row,
    in order); the id rides through."""
    schema = f"`{id_col}` {dict(df.dtypes)[id_col]}, {fields}"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            rows, cols = kernel(batch)
            ids = batch.column(0)
            yield pa.RecordBatch.from_arrays(
                [ids if rows is None else ids.take(rows), *cols.values()],
                names=[id_col, *cols])

    run.__name__ = kernel.__name__  # plans name the pass after its kernel
    return df.select(id_col, *inputs).mapInArrow(run, schema)


def fixed_lists(mat: np.ndarray) -> pa.ListArray:
    """A list column whose row i is ``mat[i]``, built over the flat numpy
    buffer (no Python list per row)."""
    n, width = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * width + 1, width, dtype=np.int32)),
        pa.array(mat.ravel()))
