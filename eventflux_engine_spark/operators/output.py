"""Output control: ORDER BY / LIMIT / OFFSET and output-rate limiting.

Reference: per-chunk sort ``order_by_event_comparator.rs:1-64`` applied at
``select_processor.rs:531-535``; LIMIT/OFFSET ``select_processor.rs:377-419``;
OUTPUT [ALL|FIRST|LAST] EVERY n rate limiting
``src/query_api/execution/query/output/ratelimit/*.rs`` (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .aggregations import CATALYST, MERGE, parse_simple_agg

__all__ = [
    "order_limit_offset",
    "output_first_every",
    "output_last_every",
    "output_all_every",
    "output_every_time",
    "output_snapshot_agg",
]


def order_limit_offset(
    df: DataFrame,
    order_by: list[Column],
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """ORDER BY + LIMIT/OFFSET.

    OFFSET is realized with ``offset()`` (Spark ≥3.4 supports it natively
    after a sort) — keeps the TakeOrderedAndProject physical operator, which
    never materializes a global sort.
    """
    out = df.orderBy(*order_by)
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def _every_n(df: DataFrame, n: int, keys: list[str], order_cols: list[str], pick_last: bool) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    out = df.withColumn("_rn", F.row_number().over(w))
    # FIRST uses the 0-based position so n=1 keeps every event
    # (EVERY 1 emits immediately, output_rate_limit_comprehensive.rs:415)
    keep = (
        (F.col("_rn") % n == 0) if pick_last else ((F.col("_rn") - 1) % n == 0)
    )
    return out.filter(keep).drop("_rn")


def output_first_every(df: DataFrame, n: int, keys: list[str], order_cols: list[str]) -> DataFrame:
    """OUTPUT FIRST EVERY n EVENTS — keep the first event of each n-event
    block per key (throttle/sample semantics,
    ``ratelimit/*.rs`` + ``select_processor.rs:30-38``)."""
    return _every_n(df, n, keys, order_cols, pick_last=False)


def output_last_every(df: DataFrame, n: int, keys: list[str], order_cols: list[str]) -> DataFrame:
    """OUTPUT LAST EVERY n EVENTS — keep the last event of each n-event block."""
    return _every_n(df, n, keys, order_cols, pick_last=True)


def output_all_every(
    df: DataFrame, n: int, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """OUTPUT ALL EVERY n EVENTS (events_output_rate.rs, ALL behavior):
    events emit in complete n-blocks; a trailing partial block stays
    buffered — batch restatement keeps only rows of COMPLETE blocks."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    cnt_w = Window.partitionBy(*keys)
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(cnt_w))
    )
    return out.filter(F.col("_rn") <= F.floor(F.col("_n") / n) * n).drop("_rn", "_n")


def output_every_time(
    df: DataFrame,
    interval_ms: int,
    mode: str,  # FIRST | LAST | ALL
    ts_col: str,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """OUTPUT [ALL|FIRST|LAST] EVERY d TIME (time_output_rate.rs:9-17,
    converter.rs:406-412) — event-time restatement of the wall-clock timer
    (SURVEY §7.4 stance): the emission timeline buckets into d-wide windows
    aligned to the epoch; FIRST/LAST keep one event per non-empty bucket,
    ALL emits every buffered event at each tick (batch: passthrough)."""
    if mode == "ALL":
        return df
    bucket = F.floor(
        F.col(ts_col).cast("timestamp_ltz").cast("double") * 1000 / interval_ms
    )
    w = Window.partitionBy(*keys, bucket).orderBy(
        *(order_cols if mode == "FIRST" else [F.col(c).desc() for c in order_cols])
    )
    out = df.withColumn("_rn", F.row_number().over(w))
    return out.filter(F.col("_rn") == 1).drop("_rn")


def output_snapshot_agg(
    df: DataFrame,
    interval_ms: int,
    ts_col: str,
    keys: list[str],
    aggs: list[tuple[str, str]],
    start_ts,
    end_ts,
) -> DataFrame:
    """OUTPUT SNAPSHOT EVERY d (snapshot_output_rate.rs): every d the CURRENT
    aggregate state is emitted in full — restated on event time as: for each
    tick t in (start, end], the aggregate over all events with ts <= t.

    ``aggs`` is a list of (aggregate SQL expression, output alias).

    Plan (scale path, decomposable aggs — count/sum/avg/min/max): bucket each
    event to the first tick at-or-after it and partial-aggregate per
    (keys, bucket) — the ONLY shuffle over the raw event table, with
    map-side combine — then explode each partial row to the ticks it feeds
    (its own bucket through the last tick) and re-aggregate per (keys,
    tick). Raw rows are never replicated per tick and the event table is
    scanned once; only per-(key, bucket) partials fan out, bounded by
    output_size × n_ticks, with n_ticks small by construction (rate
    limiting implies coarse d). No join, no BroadcastNestedLoopJoin. A
    (key, tick) output row exists only once the key has ≥1 event at or
    before the tick — identical to the tick-join / oracle inner-join
    semantics. Non-decomposable aggregates (DISTINCT, first/last, compound
    expressions) fall back to the tick-range-join restatement, which
    amplifies raw rows ×ticks and is only suitable for small inputs."""
    parsed = [parse_simple_agg(e) for e, _ in aggs]
    if not parsed or None in parsed:
        return _snapshot_tick_join(
            df, interval_ms, ts_col, keys,
            [F.expr(e).alias(a) for e, a in aggs], start_ts, end_ts,
        )

    start = F.lit(start_ts).cast("timestamp")
    end = F.lit(end_ts).cast("timestamp")

    def ms(c: Column) -> Column:
        return c.cast("timestamp_ltz").cast("double") * 1000.0

    # Tick i sits at start + i*d (i in 1..n_ticks); an event's owning tick
    # is the first tick at-or-after its ts (events at or before the spine
    # start belong to tick 1 — visible from the first snapshot onward);
    # events after the last tick never emit. All integer-valued doubles
    # (exact to 2^53), ceil/floor safe for sub-year horizons at ms grain.
    n_ticks = F.floor((ms(end) - ms(start)) / F.lit(float(interval_ms))).cast(
        "long"
    )
    bucket = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(
            (ms(F.col(ts_col)) - ms(start)) / F.lit(float(interval_ms))
        ).cast("long"),
    )
    ev = df.filter(bucket <= n_ticks)

    parts = [(n, k, p) for i, p in enumerate(parsed) for n, k in p.partials(i)]
    partial_cols = [CATALYST[k](p.column()).alias(n) for n, k, p in parts]
    finals = [
        p.final(i, lambda n, k: CATALYST[MERGE[k]](n)).alias(a)
        for i, (p, (_e, a)) in enumerate(zip(parsed, aggs))
    ]

    pb = ev.groupBy(*[F.col(k) for k in keys], bucket.alias("_bkt")).agg(
        *partial_cols
    )
    expanded = pb.select(
        *keys,
        F.explode(F.sequence(F.col("_bkt"), n_ticks)).alias("_tick_bkt"),
        *[n for n, _k, _p in parts],
    )
    out = expanded.groupBy(*keys, "_tick_bkt").agg(*finals)
    tick = F.timestamp_millis(
        (ms(start) + F.col("_tick_bkt") * F.lit(float(interval_ms))).cast("long")
    ).alias("tick")
    return out.select(tick, *keys, *[a for _e, a in aggs])


def _snapshot_tick_join(
    df: DataFrame,
    interval_ms: int,
    ts_col: str,
    keys: list[str],
    aggs: list[Column],
    start_ts,
    end_ts,
) -> DataFrame:
    """Fallback SNAPSHOT plan for non-decomposable aggregates: range-join
    events to every tick at-or-after them (row amplification ×remaining
    ticks through a BroadcastNestedLoopJoin) and aggregate per (tick, keys).
    Only suitable when input × ticks is small."""
    ticks = df.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start_ts).cast("timestamp"),
                F.lit(end_ts).cast("timestamp"),
                F.expr(f"INTERVAL {interval_ms} MILLISECONDS"),
            )
        ).alias("tick")
    ).filter(F.col("tick") > F.lit(start_ts).cast("timestamp"))
    joined = df.join(
        F.broadcast(ticks),
        F.col(ts_col).cast("timestamp_ltz") <= F.col("tick").cast("timestamp_ltz"),
    )
    return joined.groupBy("tick", *keys).agg(*aggs)
