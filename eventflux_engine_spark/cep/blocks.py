"""Whole-key blocks over Arrow record batches, for the vectorized CEP kernels.

The linear, fused and absent kernels run as ``mapInArrow`` tasks whose input
is contiguous by key (sorted within the partition, or bucketed storage).
Arrow slices a partition into ``maxRecordsPerBatch``-row batches without
regard to keys; :func:`iter_key_blocks` regroups them so that every block a
kernel sees holds whole keys. The helpers below read a block's key runs,
event times and flags once, as numpy arrays, without a pandas round trip.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: nanoseconds per tick of each Arrow timestamp unit
NS_PER_TICK = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}


def key_starts(keys: pa.Array) -> np.ndarray:
    """True where a row's key differs from the row before it (always at row
    0). Nulls compare equal to each other, so null keys form one key."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    a, b = keys.slice(1), keys.slice(0, len(keys) - 1)
    ne = pc.not_equal(a, b)
    if keys.null_count:
        ne = pc.if_else(ne.is_valid(), ne, pc.not_equal(a.is_null(), b.is_null()))
    return np.r_[True, ne.to_numpy(zero_copy_only=False)]


def ts_ticks(block: pa.RecordBatch, ts_col: str) -> tuple[np.ndarray, int]:
    """Timestamp column ``ts_col`` as int64 ticks of its own unit, and the
    nanoseconds per tick."""
    col = block.column(ts_col)
    return col.cast(pa.int64()).to_numpy(zero_copy_only=False), NS_PER_TICK[col.type.unit]


def flags(block: pa.RecordBatch, col: str) -> np.ndarray:
    """Boolean flag column; a null flag counts as not set."""
    return pc.fill_null(block.column(col), False).to_numpy(zero_copy_only=False)


def _concat(pieces: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(pieces) == 1:
        return pieces[0]
    return pa.Table.from_batches(pieces).combine_chunks().to_batches()[0]


def iter_key_blocks(
    batches: Iterable[pa.RecordBatch], key_col: str
) -> Iterator[pa.RecordBatch]:
    """Regroup key-contiguous record batches into non-empty blocks that each
    hold whole keys, in input order.

    Blocks are zero-copy slices of the input batches, except for a key that
    spans batches: its pieces are kept as a list and concatenated once, when
    the key ends, so a hot key over k batches is copied once, not k times.
    """
    tail: list[pa.RecordBatch] = []  # pieces of the last, unfinished key
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        keys = batch.column(key_col)
        starts = np.flatnonzero(key_starts(keys))
        head = 0  # rows before ``head`` finish the tail's key
        if tail and tail[-1].column(key_col)[-1].equals(keys[0]):
            head = int(starts[1]) if len(starts) > 1 else n
            tail.append(batch.slice(0, head))
            if head == n:
                continue
        if tail:
            yield _concat(tail)
        last = int(starts[-1])
        if last > head:
            yield batch.slice(head, last - head)
        tail = [batch.slice(last)]
    if tail:
        yield _concat(tail)


def map_key_blocks(
    df: DataFrame,
    key_col: str,
    kernel: Callable[[pa.RecordBatch], pa.RecordBatch],
    schema: T.StructType | str,
) -> DataFrame:
    """``df.mapInArrow`` that runs ``kernel`` once per whole-key block of
    each key-contiguous partition; ``kernel`` returns a batch of ``schema``."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for block in iter_key_blocks(batches, key_col):
            out = kernel(block)
            if out.num_rows:
                yield out

    return df.mapInArrow(run, schema=schema)
