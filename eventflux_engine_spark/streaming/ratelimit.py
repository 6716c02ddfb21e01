"""Streaming OUTPUT rate limiting — the live-pipeline twin of
``operators/output.py``'s batch restatement.

≙ reference output rate limiters running INSIDE the pipeline
(``src/query_api/execution/query/output/ratelimit/*.rs`` wired at
``select_processor.rs:30-38``; behavior pinned by
``tests/output_rate_limit_comprehensive.rs``):

- ``FIRST EVERY n EVENTS`` — emit the first event of every n-event block
  (0-based position ``% n == 0``; EVERY 1 emits everything).
- ``LAST EVERY n EVENTS`` — emit the n-th event of every block as it
  arrives; a trailing partial block never emits.
- ``ALL EVERY n EVENTS`` — buffer, release complete n-blocks; the trailing
  partial block stays buffered.
- ``FIRST/LAST EVERY d TIME`` — one event per epoch-aligned d-wide bucket
  of event time (SURVEY §7.4 stance: event time restates the reference's
  wall-clock timer). LAST holds a pending candidate until a later bucket
  (or the flush sentinel) closes the bucket.
- ``ALL EVERY d TIME`` — every buffered event emits at the tick: content
  equals passthrough, so the stream passes through unchanged.

One global ``applyInPandasWithState`` group holds the counters — the rate
limiter is a per-QUERY serial point in the reference too
(``stream_junction.rs`` ordered dispatch); sharded per-key rate limiting
falls out of adding real keys to the groupBy. The rows it holds between
micro-batches (the ALL remainder, the LAST candidate, the snapshot
partials and not-yet-due events) are typed Arrow frames packed by
:mod:`.rowstate`. Each trigger's rows are handled as one frame in arrival
(``__seq``) order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..operators.aggregations import MERGE, SimpleAgg, group_partials
from ..sql.feeds import SENTINEL_SEQ
from .rowstate import pack, unpack

_STATE_SCHEMA = "count bigint, bucket bigint, pending binary, buffered binary"


def output_rate_stream(
    stream: DataFrame,
    mode: str,
    value: int,
    unit: str,
) -> DataFrame:
    """Apply OUTPUT [ALL|FIRST|LAST] EVERY <n> EVENTS / <d> TIME to a
    streaming DataFrame carrying ``__seq`` (arrival order) and ``__ts``
    (event time). Emitted rows keep the input schema. The far-future flush
    sentinel (``__seq >= SENTINEL_SEQ``) advances time buckets and flushes
    pending LAST candidates without being counted or withheld."""
    if unit == "TIME" and mode == "ALL":
        return stream  # tick releases the full buffer — content ≡ passthrough

    schema = stream.schema

    def fn(key, pdfs, state):
        if state.exists:
            count, bucket, pending, buffered = state.get
        else:
            count, bucket, pending, buffered = 0, -1, None, None
        pdf = _trigger_rows(pdfs)
        # sentinel rows only advance buckets / flush state
        real = pdf[pdf["__seq"] < SENTINEL_SEQ]
        if unit == "EVENTS":
            if len(real):
                pos = count + pd.RangeIndex(len(real))
                if mode == "FIRST":
                    out = real[(pos % value) == 0]
                elif mode == "LAST":
                    out = real[(pos % value) == (value - 1)]
                else:  # ALL: release complete blocks, hold the remainder
                    pool = pd.concat([unpack(buffered), real], ignore_index=True)
                    n_full = (len(pool) // value) * value
                    out = pool.iloc[:n_full]
                    buffered = pack(pool.iloc[n_full:])
                count += len(real)
                if len(out):
                    yield out
        else:  # TIME — epoch-aligned d-wide event-time buckets
            bkts = (pdf["__ts"].astype("int64") // 1_000_000 // value).astype("int64")
            if mode == "FIRST":
                new = bkts > bucket
                if new.any():
                    bucket = int(bkts.max())
                    yield pdf[new].groupby(bkts[new], sort=True).head(1)
            else:  # LAST: hold each bucket's candidate until it closes
                pool = pd.concat([unpack(pending), pdf], ignore_index=True)
                pb = (pool["__ts"].astype("int64") // 1_000_000 // value).astype("int64")
                tails = pool.groupby(pb, sort=True).tail(1)
                closed = tails[pb[tails.index] < pb.max()]
                pending = pack(tails[pb[tails.index] == pb.max()])
                if len(closed):
                    yield closed
        state.update((count, bucket, pending, buffered))

    return (
        stream.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandasWithState(
            fn, schema, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )
    )


# -- OUTPUT SNAPSHOT EVERY d over aggregating queries, streaming ------------

_SNAP_STATE = "hw bigint, next_tick bigint, accs binary, buf binary"


def snapshot_agg_stream(
    stream: DataFrame,
    keys: list[str],
    parsed: list[SimpleAgg],
    aliases: list[str],
    out_schema: str,
    interval_ms: int,
    start_ms: int,
    n_ticks: int,
) -> DataFrame:
    """Streaming ``OUTPUT SNAPSHOT EVERY d`` over an aggregating query
    (``snapshot_output_rate.rs``: every d the FULL current aggregate state
    emits). Event-time restatement identical to the batch operator
    (``operators/output.py:output_snapshot_agg``): for tick t in
    (start, start + n_ticks*d], emit per-key aggregates over all events
    with ts <= t; a key appears once it has >= 1 event at or before the
    tick.

    The limiter is ONE ``applyInPandasWithState`` group — the reference's
    snapshot limiter is a per-query serial point too (scheduler timer +
    full-state walk, serialized through ``stream_junction.rs`` dispatch).
    Ticks become due as the high-water event time passes them (the app
    feed is arrival-ordered on its logical clock, the same assumption
    ``output_rate_stream``'s TIME buckets make); the far-future flush
    sentinel drives every remaining tick due at end-of-stream. At each due
    tick the newly due events' per-key partials merge into the running
    ones, both under the one decomposable-aggregate table
    (``operators/aggregations.py``), so each event is touched once — state
    holds per-key partials plus the not-yet-due buffer, never the full
    history.

    ``parsed``: each aggregate's :class:`SimpleAgg`; its argument is
    pre-projected to column ``_a{i}`` by the caller (Catalyst evaluates
    it and keeps its type)."""
    gcols = list(keys)
    raw = {n: (k, f"_a{i}") for i, a in enumerate(parsed) for n, k in a.partials(i)}
    merge = {n: (MERGE[k], n) for n, (k, _src) in raw.items()}

    def fn(key, pdfs, state):
        if state.exists:
            hw, next_tick, accs, buf = state.get
            accs, buf = unpack(accs), unpack(buf)
        else:
            hw, next_tick, accs, buf = -(1 << 62), 1, None, None
        pdf = _trigger_rows(pdfs)
        hw = max(hw, int(pdf["__ts"].astype("int64").max() // 1_000_000))
        real = pdf[pdf["__seq"] < SENTINEL_SEQ].drop(columns="__seq")
        buf = pd.concat([buf, real], ignore_index=True)
        outs = []
        while next_tick <= n_ticks and start_ms + next_tick * interval_ms <= hw:
            t_ms = start_ms + next_tick * interval_ms
            ts_ms = buf["__ts"].astype("int64") // 1_000_000
            due, buf = buf[ts_ms <= t_ms], buf[ts_ms > t_ms]
            if len(due):
                block = group_partials(due, gcols, raw)
                accs = group_partials(pd.concat([accs, block]), gcols, merge)
            if accs is not None:
                outs.append(pd.DataFrame({
                    "__tick": t_ms,
                    **{k: accs[k] for k in gcols},
                    **{
                        alias: a.final(i, lambda n, _k: accs[n])
                        for i, (a, alias) in enumerate(zip(parsed, aliases))
                    },
                }))
            next_tick += 1
        if outs:
            yield pd.concat(outs, ignore_index=True)
        state.update((hw, next_tick, pack(accs), pack(buf)))

    return (
        stream.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandasWithState(
            fn, out_schema, _SNAP_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


def _trigger_rows(pdfs) -> pd.DataFrame:
    """The one limiter group's rows of a trigger as one frame, in arrival
    (``__seq``) order."""
    rows = pd.concat(list(pdfs), ignore_index=True).drop(columns="__g")
    return rows.sort_values("__seq", kind="stable")
