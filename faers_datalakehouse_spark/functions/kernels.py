"""The Arrow boundary for numpy vector kernels.

A kernel sees ``pyarrow.RecordBatch`` objects, never pandas: a
``list<bigint>`` column reaches numpy as one zero-copy ``(rows, d)`` view
of the list's flat child buffer (no per-row ``np.stack``), and columns a
kernel only passes through go back out as the same Arrow arrays.

- :func:`matrix` — the ``(rows, d)`` int64 view of a vector column;
- :func:`map_batches` — a row-wise kernel (one output batch per input
  batch) over ``mapInArrow``;
- :func:`partition_sum` — the ``RDD.aggregate`` contract for a
  fixed-shape int64 statistic: one job, no shuffle, one partial per
  partition summed on the driver.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def matrix(batch: pa.RecordBatch, col: str) -> np.ndarray:
    """``(rows, d)`` int64 view of the ``list<bigint>`` column ``col``.

    ``flatten`` honours the batch's slice offset. A null list, a null
    element or lists of differing lengths raise ``ValueError``."""
    arr = batch.column(col)
    flat = arr.flatten()
    if arr.null_count or flat.null_count:
        raise ValueError(f"{col}: null vector or vector element")
    lens = pc.list_value_length(arr).to_numpy()
    d = int(lens[0]) if len(lens) else 0
    if (lens != d).any():
        raise ValueError(f"{col}: ragged vectors (lengths {lens.min()}..{lens.max()})")
    return np.asarray(flat.to_numpy(), dtype=np.int64).reshape(len(arr), d)


def map_batches(
    df: DataFrame,
    fn: Callable[[pa.RecordBatch], pa.RecordBatch],
    schema: StructType | str,
) -> DataFrame:
    """``fn`` applied to every non-empty Arrow batch of ``df``; ``schema``
    (a ``StructType`` or DDL string) types ``fn``'s output batches."""

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                yield fn(batch)

    return df.mapInArrow(run, schema)


def partition_sum(
    df: DataFrame,
    fn: Callable[[pa.RecordBatch], np.ndarray],
    shape: tuple[int, ...],
) -> np.ndarray:
    """Σ ``fn(batch)`` over every batch of ``df``, where ``fn`` returns an
    int64 array of ``shape``.

    Each partition accumulates its batches in int64 and emits ONE row, so
    the only job is the collect of one partial per partition (no
    shuffle). The driver adds the partials as Python ints: the result is
    an object array of ``shape`` that cannot wrap. ``fn`` owns the
    per-partition range: it must refuse input whose partition sum could
    leave int64."""
    size = int(np.prod(shape))

    def run(batches):
        acc = np.zeros(shape, dtype=np.int64)
        for batch in batches:
            if batch.num_rows:
                acc += fn(batch)
        flat = pa.array(acc.ravel())
        yield pa.RecordBatch.from_arrays(
            [pa.ListArray.from_arrays(pa.array([0, size], pa.int32()), flat)],
            names=["acc"],
        )

    total = np.zeros(size, dtype=object)
    for row in df.mapInArrow(run, "acc array<bigint>").collect():
        total += np.array(row["acc"], dtype=object)
    return total.reshape(shape)
