"""Sentinel-terminated file feeds: how ``EventFluxApp.run_streaming`` turns
sent rows into live streams, and the one rule for what a watermark has made
final.

Each input of a streaming run is a chunked parquet feed read as a file
stream, one file per micro-batch (the AppRunner ``send()`` analog). A
bounded feed never ends by itself, so every feed ends with one SENTINEL row:
``__seq >= SENTINEL_SEQ``, an event time ten years after the data, and
neutral values elsewhere. The sentinel

- advances the watermark: a union's or a join's watermark is the minimum
  over its inputs, so every feed that reaches an event-time operator needs
  its own;
- flushes the stateful operators that act only on data
  (``applyInPandasWithState`` without timeouts: count, sort and time
  windows, rate limiters, the pattern NFA);
- never reaches a result. The rule has three parts:

  * before an operator that needs no event time (a running aggregate, an
    INNER join, a pattern step's flag), drop it: :func:`drop_sentinel` /
    :func:`not_sentinel`;
  * through a WHERE in front of an event-time operator, keep it:
    :func:`keep_sentinel`. Spark pushes single-side predicates below the
    watermark node, so a filtered-out sentinel stalls the watermark;
  * the drain drops every row with ``__seq >= SENTINEL_SEQ``; windowed
    aggregates never emit the sentinel's own far-future window.

The k-th feed of a run gets ``__seq = SENTINEL_SEQ + k`` and an event time
k weeks after the first feed's sentinel, so sentinels of different feeds
never fall inside a join's time bound (bounds are under 6 days).
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: origin of the app's logical clock (``send`` stamps one second per event)
EPOCH = datetime.datetime(2024, 1, 1)
SENTINEL_SEQ = 10**9
SENTINEL_TS = EPOCH + datetime.timedelta(days=3650)
#: event-time distance between the sentinels of two feeds of one run
SENTINEL_GAP = datetime.timedelta(days=7)
#: sentinel string value for outer-join feeds: Spark pushes
#: ``isnotnull(join_key)`` below the watermark node, so a null-keyed
#: sentinel would be dropped at the scan (keyed aggregates keep NULL)
OUTER_JOIN_KEY = "\x00sentinel"

# type-correct NEUTRAL values, not nulls, for the sentinel's non-string
# columns
_NEUTRAL = {
    T.ByteType: 0,
    T.ShortType: 0,
    T.IntegerType: 0,
    T.LongType: 0,
    T.FloatType: 0.0,
    T.DoubleType: 0.0,
    T.BooleanType: False,
    T.TimestampType: EPOCH,
    T.TimestampNTZType: EPOCH,
}


def not_sentinel() -> Column:
    return F.col("__seq") < SENTINEL_SEQ


def drop_sentinel(df: DataFrame) -> DataFrame:
    return df.filter(not_sentinel())


def keep_sentinel(pred: str, *seq_cols: str) -> Column:
    """SQL predicate ``pred``, or the row is a sentinel by any of
    ``seq_cols`` (default ``__seq``)."""
    out = F.expr(pred)
    for c in seq_cols or ("__seq",):
        out = out | (F.col(c) >= SENTINEL_SEQ)
    return out


def sentinel_row(schema: T.StructType, k: int = 0, strings: str | None = None) -> tuple:
    """The k-th feed's sentinel; string columns take ``strings``."""
    vals = []
    for f in schema.fields:
        if f.name == "__seq":
            vals.append(SENTINEL_SEQ + k)
        elif f.name == "__ts":
            vals.append(SENTINEL_TS + k * SENTINEL_GAP)
        elif isinstance(f.dataType, T.StringType):
            vals.append(strings)
        else:
            vals.append(_NEUTRAL.get(type(f.dataType)))
    return tuple(vals)


def write_feed(
    path: str,
    schema: T.StructType,
    rows: list[tuple],
    n_chunks: int,
    sentinel: tuple,
    lead_empty: int = 0,
) -> list[str]:
    """Write ``rows`` as up to ``n_chunks`` parquet files, the sentinel last
    in the last one, behind ``lead_empty`` empty files (see
    :func:`write_chunks`). Returns the file paths in feed order."""
    arrow = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in [*rows, sentinel]]
    table = pa.table(
        [pa.array(list(col), type=f.type) for col, f in zip(zip(*internal), arrow)],
        schema=arrow,
    )
    chunks = max(1, min(n_chunks, len(rows)))
    bounds = [round(i * len(rows) / chunks) for i in range(chunks)] + [len(table)]
    paths = [
        os.path.join(path, f"c{i:03d}.parquet") for i in range(lead_empty + chunks)
    ]
    return write_chunks(paths, schema, table, [0] * lead_empty + bounds)


def write_chunks(
    paths: list[str], schema: T.StructType, table: pa.Table, bounds: list[int]
) -> list[str]:
    """The one typed feed writer: rows ``bounds[i]:bounds[i + 1]`` of
    ``table`` go to ``paths[i]`` as parquet with ``schema``'s Arrow types
    (timestamps in µs; an all-null chunk keeps its declared type, which a
    file stream's schema requires). Returns ``paths``."""
    table = table.cast(to_arrow_schema(schema))
    t0 = time.time_ns()
    for i, (p, a, b) in enumerate(zip(paths, bounds, bounds[1:])):
        pq.write_table(table.slice(a, b - a), p)
        # the file source orders files by modification time in ms and breaks
        # ties by listing order: space them 1 ms apart so chunks replay in
        # feed order however fast they are written
        os.utime(p, ns=(t0 + i * 1_000_000,) * 2)
    return paths


class Feeds:
    """The feeds of one streaming run. The k-th feed opened carries the
    k-th sentinel; leaving the ``with`` block deletes every feed's files."""

    def __init__(self, spark: SparkSession, n_chunks: int):
        self.spark = spark
        self.n_chunks = n_chunks
        self.dirs: list[str] = []

    def open(
        self,
        schema: T.StructType,
        rows: list[tuple] = (),
        strings: str | None = None,
        lead_empty: int = 0,
    ) -> DataFrame:
        """Write a feed of ``rows`` and open it as a file stream. A flush
        feed (no rows, ``lead_empty=n_chunks``) delivers its sentinel only
        after every data feed is consumed: each file source advances one
        file per trigger, concurrently."""
        d = tempfile.mkdtemp(prefix="efs_feed_")
        sentinel = sentinel_row(schema, len(self.dirs), strings)
        self.dirs.append(d)
        write_feed(d, schema, list(rows), self.n_chunks, sentinel, lead_empty)
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    def __enter__(self) -> "Feeds":
        return self

    def __exit__(self, *exc) -> None:
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)
