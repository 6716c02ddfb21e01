"""Streaming sources.

Production target is an Iceberg table stream (``readStream.format("iceberg")``
— jars not present in this sandbox); the file source below has the same
semantics for a partitioned parquet table: each newly discovered file becomes
(part of) a micro-batch, ``maxFilesPerTrigger`` bounds batch size (the
backpressure analog of the reference's junction rate limits,
``stream_junction.rs:144-152``).

≙ reference sources (``src/core/stream/input/source/``): RabbitMQ/WebSocket
connectors are out of scope per SURVEY §2.1 (the north_rule input is a
table); the Timer source ≙ ``spark.readStream.format("rate")``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sql.feeds import write_chunks


def stream_from_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def rate_source(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Timer/tick stream ≙ reference TimerSource (``timer_source.rs:53``)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def chunked_feed(df: DataFrame, out_dir: str, n_chunks: int, order_cols: list[str]) -> list[str]:
    """Materialize a bounded DataFrame as N parquet chunk-files in event-time
    order — simulates an arriving stream for tests (the AppRunner ``send()``
    analog, reference ``tests/common/mod.rs:31``). Returns chunk paths in
    feed order; write them into a monitored dir one at a time to control
    micro-batch contents. Every chunk carries ``df``'s types
    (``sql/feeds.write_chunks``), so ``stream_from_dir`` reads it with
    ``df.schema`` even when a column is all NULL in that chunk."""
    os.makedirs(out_dir, exist_ok=True)
    table = df.toArrow().sort_by([(c, "ascending") for c in order_cols])
    n = len(table)
    bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
    paths = [os.path.join(out_dir, f"chunk_{i:04d}.parquet") for i in range(n_chunks)]
    return write_chunks(paths, df.schema, table, bounds)
