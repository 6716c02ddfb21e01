"""Window operators.

Reference registry: 10 window types
(``/root/reference/src/core/query/processor/stream/window/types.rs:8-35``).
Spark-first mapping (SURVEY.md §2.5):

- ``timeBatch`` / SQL ``WINDOW('tumbling', d)``  → ``F.window(ts, d)``
- ``WINDOW('sliding', size, slide)`` (the reference PARSES but cannot run it,
  ``src/sql_compiler/converter.rs:907-914``) → ``F.window(ts, size, slide)``
- ``session(gap)`` (``session_window_processor.rs:27-65``)
  → ``F.session_window(ts, gap)``
- ``externalTime*`` → these ARE Spark's event-time model (watermark + window)
- ``length(N)`` / ``lengthBatch(N)`` / ``sort(N, attr)`` (count-based) →
  analytic-window formulations in batch; keyed state in streaming

All functions operate on event time (``ts`` column) — the reference's own
tests drive wall-clock windows with controlled sends, and its
``externalTime*`` family is the event-time re-statement, so parity is
well-posed on event time (SURVEY.md §7.4).

Scale notes: ``F.window``/``session_window`` aggregations are hash
aggregations with map-side partial combine — one shuffle on the group keys.
The count-based windows need a per-key ordering; in batch that is one shuffle
+ in-partition sort (no global sort), in streaming it is keyed state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "tumbling",
    "sliding",
    "session",
    "length_window_agg",
    "length_batch_agg",
    "sort_window_topk",
]


def tumbling(
    df: DataFrame,
    duration: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time window aggregation.

    ≙ reference ``timeBatch``/``externalTimeBatch`` + GROUP BY
    (``window/mod.rs:965``, ``:1472``). Window start/end are emitted as epoch
    seconds (long) for engine-agnostic comparability.
    """
    win = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start").cast("timestamp_ltz").cast("long"))
        .withColumn("window_end", F.col("w.end").cast("timestamp_ltz").cast("long"))
        .drop("w")
    )


def sliding(
    df: DataFrame,
    size: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """Hopping (sliding) event-time window aggregation.

    The reference grammar accepts ``WINDOW('sliding', size, slide)`` but its
    converter errors ("not yet implemented",
    ``src/sql_compiler/converter.rs:907-914``) — we exceed the reference here
    with the native hopping window.
    """
    win = F.window(F.col(ts_col), size, slide)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start").cast("timestamp_ltz").cast("long"))
        .withColumn("window_end", F.col("w.end").cast("timestamp_ltz").cast("long"))
        .drop("w")
    )


def session(
    df: DataFrame,
    gap: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
) -> DataFrame:
    """Session window aggregation (gap-based).

    ≙ reference ``session(gap[, key])``
    (``session_window_processor.rs:27-65``): sessions close when no event
    arrives within ``gap``; start = first event ts, end = last event ts + gap.
    Spark's native ``session_window`` implements exactly this contract.
    """
    win = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start").cast("timestamp_ltz").cast("long"))
        .withColumn("session_end", F.col("w.end").cast("timestamp_ltz").cast("long"))
        .drop("w")
    )


def length_window_agg(
    df: DataFrame,
    n: int,
    keys: list[str],
    value_aggs: dict[str, tuple[str, str]],
    order_cols: list[str],
) -> DataFrame:
    """Sliding count window: per arriving event, aggregate over the last N
    events of its key partition (the event itself included).

    ≙ reference ``length(N)`` (``window/mod.rs:63-193``) feeding an
    aggregator: on each arrival the aggregator reflects the live N-event
    buffer (Current adds, Expired retracts). Batch formulation:
    ``rowsBetween(-(N-1), 0)`` over ``(keys ORDER BY order_cols)`` — one
    shuffle on the key, sort within partitions only.

    ``value_aggs``: output_name -> (agg_fn_name, input_col).
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(-(n - 1), 0)
    )
    out = df
    for name, (fn, col) in value_aggs.items():
        out = out.withColumn(name, getattr(F, fn)(F.col(col)).over(w))
    return out


def length_batch_agg(
    df: DataFrame,
    n: int,
    keys: list[str],
    aggs: list[Column],
    order_cols: list[str],
) -> DataFrame:
    """Tumbling count window: group each key's events into consecutive
    batches of N (incomplete tail batch emitted too, batch semantics per
    key-history), aggregate per batch.

    ≙ reference ``lengthBatch(N)`` (``window/mod.rs:645-963``): emit + Reset
    every N events. Batch formulation: ``floor(row_number()/N)`` bucketing.
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    bucketed = df.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(n)).cast("int"),
    )
    return bucketed.groupBy(*keys, "batch_id").agg(*aggs)


def length_window_changelog(
    df: DataFrame,
    n: int,
    order_cols: list[str],
    keys: list[str] | None = None,
) -> DataFrame:
    """Sliding count window as a CHANGELOG: each arrival emits its Current
    row, preceded by the Expired row of the event it evicts (once the buffer
    holds N events).

    ≙ reference ``length(N)`` passthrough semantics: output callbacks see
    Current AND Expired events — ``WINDOW('length', 2)`` over 1,2,3 emits
    rows [1],[2],[1],[3] where the second [1] is event 1's eviction record,
    expired-before-current within an arrival
    (``tests/app_runner_windows.rs:25-45``; emit order ``window/mod.rs:130-151``).

    Output adds ``is_expired`` and ``emit_seq`` (total emission order):
    arrival i emits current at ``2i+1`` and the eviction of arrival i-N at
    ``2i`` — downstream sorts on ``emit_seq`` to replay the reference's
    callback order.
    """
    w = Window.partitionBy(*(keys or [F.lit(1)])).orderBy(*order_cols)
    arrival = F.row_number().over(w) - 1  # 0-based arrival index
    base = df.withColumn("_arrival", arrival)
    current = base.withColumn("is_expired", F.lit(False)).withColumn(
        "emit_seq", (F.col("_arrival") * 2 + 1).cast("bigint")
    )
    # event at arrival a is evicted by arrival a+n (if it exists)
    per_key_count = F.count(F.lit(1)).over(
        Window.partitionBy(*(keys or [F.lit(1)]))
    )
    expired = (
        base.withColumn("_total", per_key_count)
        .filter(F.col("_arrival") + n < F.col("_total"))
        .withColumn("is_expired", F.lit(True))
        .withColumn("emit_seq", ((F.col("_arrival") + n) * 2).cast("bigint"))
        .drop("_total")
    )
    return current.unionByName(expired).drop("_arrival")


def sort_window_topk(
    df: DataFrame,
    n: int,
    keys: list[str],
    order_by: list[Column],
    tiebreak: list[str],
) -> DataFrame:
    """Top-/bottom-K retention per key.

    ≙ reference ``sort(N, attr asc/desc)`` (``sort_window_processor.rs:25``):
    keep the N best events under the comparator, evicting the worst. Final
    retained set == batch top-K. ``tiebreak`` keeps results deterministic.
    Scale: row_number over (key, order) — single shuffle; no global sort.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by, *[F.col(c) for c in tiebreak])
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )
