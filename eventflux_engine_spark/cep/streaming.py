"""Streaming executor for pattern specs: keyed matchers in
``applyInPandasWithState`` (the north-star design, SURVEY.md §2.6).

Correct event-time semantics under out-of-order arrival:

1. new rows are BUFFERED in group state, not matched immediately;
2. on every invocation, rows with ``ts <= current watermark`` are final —
   they replay through the shared transition core (``run_nfa``) in
   ``(ts, turn_idx)`` order, exactly like the reference's per-event arrival
   discipline (``stream_pre_state_processor.rs``);
3. newer rows stay buffered; an event-time timeout is armed at the earliest
   buffered timestamp so the group is woken to flush once the watermark
   passes it — even if no new data arrives for the key.

This preserves the reference's strict arrival-order invariant (SURVEY §7.4)
with bounded lateness = the watermark delay. Buffered rows persist across
micro-batches as one typed Arrow frame (``streaming/rowstate.py``); the
NFA's partial matches, Python natives built by ``run_nfa``, persist as
JSON. The state store (RocksDB-backed in production configs) makes the
query resumable from checkpoint.

Scale: state per key is O(buffered window + live partial matches); the
within-deadline prunes instances, the watermark prunes the buffer. Keys are
hash-partitioned on ``conv_id`` — the same exchange the windowed aggregates
use.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..streaming.rowstate import pack, unpack
from .batch import output_schema
from .nfa import match_absent_block, run_nfa
from .spec import PatternSpec

STATE_SCHEMA = "buffered binary, instances STRING, matched_done BOOLEAN"


def match_pattern_stream(
    df: DataFrame,
    spec: PatternSpec,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Run the pattern over an unbounded (streaming) DataFrame.

    ``df`` must carry the per-step boolean flag columns (evaluate predicates
    as Catalyst expressions upstream) — same contract as the batch executor.
    """
    out_schema = output_schema(spec, df.schema)
    col_order = [f.name for f in out_schema.fields]
    ts_col = spec.ts_col
    key_col = spec.key_col

    needed = {key_col, "turn_idx", ts_col}
    needed.update(s.flag_col for s in spec.steps)
    needed.update(s.flag_col2 for s in spec.steps if s.flag_col2)
    for s in spec.steps:
        needed.update(s.emit)
        needed.update(c for _, c in s.agg_emit)
    needed.update(spec.order_cols)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            held, instances_json, matched_done = state.get
            held, instances = unpack(held), json.loads(instances_json)
        else:
            held, instances, matched_done = None, [], False
        pool = pd.concat([held, *pdfs], ignore_index=True)

        wm_ms = state.getCurrentWatermarkMs()
        final = pool[ts_col] <= pd.Timestamp(wm_ms, unit="ms")
        out_rows: list[dict] = []
        if final.any():
            out_rows, instances, matched_done = run_nfa(
                pool[final], spec, instances=instances, matched_done=matched_done
            )
            pool = pool[~final]

        done_flag_needed = (not spec.every) and matched_done
        if pool.empty and not instances and not done_flag_needed:
            state.remove()  # nothing to remember — fresh state is equivalent
        else:
            state.update((pack(pool), json.dumps(instances), bool(matched_done)))
            if len(pool):
                # wake this key when the watermark passes its oldest buffered
                # event (must arm strictly past the current watermark)
                oldest_ms = pool[ts_col].min().value // 1_000_000
                state.setTimeoutTimestamp(max(oldest_ms, wm_ms + 1))

        if out_rows:
            yield pd.DataFrame(out_rows)[col_order]

    pruned = (
        df.select(*sorted(needed))
        # watermark needs TIMESTAMP (LTZ); UTC session makes the cast exact
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark_delay)
    )
    return pruned.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# -- live absent patterns (NOT A FOR d) --------------------------------------


def match_absent_stream(
    df: DataFrame,
    trigger_flag: str,
    absent_flag: str,
    duration,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    emit_cols: tuple[str, ...] = ("turn_idx",),
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming ``NOT A FOR d``: emit each trigger event once the watermark
    proves NO absent event of its key landed in ``(trig.ts, trig.ts + d]``.

    The reference only DESIGNED this (``PATTERN_PROCESSING.md:34-38`` — "NOT
    A FOR duration, requires TimerWheel"). Each key buffers its rows, and
    every invocation runs the batch kernel :func:`match_absent_block` over
    the final cut, the rows with ``ts <= watermark``:

    - a trigger with ``ts + d <= watermark`` has every absent row that could
      cancel it in that cut, so the kernel's verdict on it is final and it
      is emitted;
    - then rows with ``ts <= watermark - d`` leave the buffer, so each
      trigger is emitted exactly once, while every absent row that can still
      cancel a pending trigger (``ts > trig.ts > watermark - d``) stays;
    - an event-time timeout at the oldest buffered row's ``ts + d`` — the
      TimerWheel role — wakes the key even if no new data arrives for it.
    """
    d = pd.Timedelta(duration)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    fields = [T.StructField(key_col, by_name[key_col])]
    fields += [T.StructField(c, by_name[c]) for c in emit_cols]
    fields.append(T.StructField("ts", T.TimestampType()))
    out_schema = T.StructType(fields)
    col_order = [f.name for f in out_schema.fields]

    pruned = (
        df.select(*sorted({key_col, ts_col, "turn_idx", trigger_flag, absent_flag, *emit_cols}))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark_delay)
    )
    # the kernel's block takes Spark's column types, with timestamps as the
    # naive nanoseconds pandas holds them in
    block_schema = pa.schema([
        pa.field(f.name, pa.timestamp("ns") if pa.types.is_timestamp(f.type) else f.type)
        for f in to_arrow_schema(pruned.schema)
    ])

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        held = unpack(state.get[0]) if state.exists else None
        pool = pd.concat([held, *pdfs], ignore_index=True)
        wm_ms = state.getCurrentWatermarkMs()
        wm = pd.Timestamp(wm_ms, unit="ms")

        final = pool[pool[ts_col] <= wm].sort_values([ts_col, "turn_idx"], kind="stable")
        out = None
        if len(final):
            block = pa.RecordBatch.from_pandas(final, schema=block_schema, preserve_index=False)
            out = match_absent_block(
                block, key_col, ts_col, trigger_flag, absent_flag, d.value, emit_cols
            ).to_pandas()
            out = out[out["ts"] <= wm - d].rename(columns={"conv_id": key_col})

        pool = pool[pool[ts_col] > wm - d]
        if pool.empty:
            state.remove()
        else:
            state.update((pack(pool),))
            deadline_ms = (pool[ts_col].min() + d).value // 1_000_000
            state.setTimeoutTimestamp(max(deadline_ms, wm_ms + 1))

        if out is not None and len(out):
            yield out[col_order]

    return pruned.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="buffered binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
