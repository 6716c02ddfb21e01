"""Streaming pipeline builders — the streaming twins of operators/windows.py
and operators/joins.py, with watermarks so state is evictable.

Emission-contract mapping (SURVEY.md §2.4 GROUP BY emission):
- non-windowed GROUP BY → ``update`` output mode (reference emits one running
  row per touched group per chunk, ``select_processor.rs:483-529``)
- windowed/session aggregations → ``append`` after the watermark closes the
  window (≙ reference batch-window flush EXPIRED→RESET→CURRENT,
  ``window/mod.rs:1034-1075``)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..operators.aggregations import DECOMPOSABLE, SimpleAgg, group_partials, pandas_partial
from ..sql.feeds import SENTINEL_SEQ
from .rowstate import pack, unpack

__all__ = [
    "tumbling_stream",
    "session_stream",
    "group_agg_update_stream",
    "stream_stream_join",
    "enrichment_join_stream",
    "asof_stream",
]


def _ltz(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); the driver's parquet is NTZ.
    Under the pinned UTC session timezone the cast is value-preserving."""
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def tumbling_stream(
    df: DataFrame,
    duration: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        _ltz(df, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def session_stream(
    df: DataFrame,
    gap: str,
    keys: list[str],
    aggs: list[Column],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        _ltz(df, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start"))
        .withColumn("session_end", F.col("w.end"))
        .drop("w")
    )


def time_window_processing_stream(
    df: DataFrame,
    duration: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """``time(d)`` on the WALL CLOCK — the reference's processing-time
    sliding window (``window/mod.rs`` time window ticks on arrival time, not
    event time). Each micro-batch stamps its rows with the batch's
    ``current_timestamp()`` (exactly 'time of arrival at the operator'),
    then a tumbling window aggregates on that processing-time column.

    Inherently non-deterministic across runs (that is the point of a
    wall-clock window) — tests assert conservation (every row lands in
    exactly one window) and structure, not exact window boundaries; the
    deterministic twin for fixtures is the event-time restatement
    (SURVEY §7.4 stance).
    """
    stamped = df.withColumn("__proc_ts", F.current_timestamp())
    return (
        stamped.withWatermark("__proc_ts", "0 seconds")
        .groupBy(F.window(F.col("__proc_ts"), duration).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .drop("w")
    )


def group_agg_update_stream(
    df: DataFrame, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Non-windowed running aggregation — run with outputMode('update') to
    reproduce the reference's one-row-per-touched-group-per-chunk contract."""
    return df.groupBy(*keys).agg(*aggs)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    max_delta_s: int,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with a time bound on both sides so
    Spark can evict join state (≙ reference JoinProcessor buffers, which the
    reference never evicts — ``join_processor.rs:18-146``; we do better).
    Key/ts column names must differ between sides (rename upstream)."""
    lw = _ltz(left, left_ts).withWatermark(left_ts, watermark)
    rw = _ltz(right, right_ts).withWatermark(right_ts, watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] > lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delta_s} SECONDS"))
    )
    return lw.join(rw, cond, how)


def enrichment_join_stream(
    stream: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join; the static side broadcasts
    (≙ TableJoinProcessor's O(1) indexed lookup)."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def exact_dedup_stream(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first-arrival-wins on the normalized-text
    fingerprint — the streaming twin of ``dedup.exact_dedup``'s keep-list.

    ``dropDuplicates`` keeps per-fingerprint state in the state store;
    pairing the fingerprint with the event-time column and a watermark
    bounds that state (Spark drops fingerprint entries once the watermark
    passes), which is what makes the operator runnable forever — an
    unbounded dedup key set is the classic streaming-dedup OOM."""
    from ..dedup import normalize_ascii

    d = _ltz(df, ts_col).withColumn(
        "fp", F.md5(normalize_ascii(F.col(text_col)))
    )
    return d.withWatermark(ts_col, watermark).dropDuplicates(["fp"])


def length_window_stream(
    df: DataFrame,
    n: int,
    fn: str,
    value_col: str,
    out_col: str,
    order_col: str = "__seq",
) -> DataFrame:
    """Per-arrival sliding length(N) aggregate as a stateful streaming
    operator — the streaming twin of ``operators.windows.length_window_agg``
    (reference ``length(N)``, window/mod.rs:63-193: every arrival emits the
    aggregate over the live N-event buffer; Current adds, Expired retracts).

    One global buffer (the reference's default unkeyed window): state is the
    last N-1 rows, carried across micro-batches in the state store. Emits
    (order_col, out_col) per event; append mode, no watermark needed —
    emission is arrival-driven, not time-driven. ``fn`` is a decomposable
    aggregate (``operators/aggregations.py``); its partials are evaluated
    per arrival over a ``rolling(n, min_periods=1)`` window, so a window of
    only NULLs gives NULL (count: 0) — one pandas pass per micro-batch."""
    agg = _simple_agg(fn, value_col)
    out_schema = f"{order_col} bigint, {out_col} {agg.result_type(df).simpleString()}"

    def proc(key, pdfs, state):
        held = unpack(state.get[0]) if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(order_col)
        rows = rows[[order_col, value_col]]
        pool = pd.concat([held, rows], ignore_index=True)
        win = pool[value_col].rolling(n, min_periods=1)
        vals = agg.final(0, lambda _n, k: pandas_partial(k, win))
        state.update((pack(pool.tail(n - 1)),))
        yield pd.DataFrame({
            order_col: rows[order_col].to_numpy(dtype=np.int64),
            out_col: vals.iloc[len(pool) - len(rows):].to_numpy(),
        })

    return (
        df.select(F.lit("__g").alias("__k"), order_col, value_col)
        .groupBy("__k")
        .applyInPandasWithState(
            proc, out_schema, "buf binary", "append", GroupStateTimeout.NoTimeout
        )
    )


def length_batch_stream(
    df: DataFrame,
    n: int,
    fn: str,
    value_col: str,
    out_col: str,
    order_col: str = "__seq",
) -> DataFrame:
    """Tumbling count window as a stateful streaming operator — the
    streaming twin of ``operators.windows.length_batch_agg`` (reference
    ``lengthBatch(N)``, window/mod.rs:645-963: emit + reset every N
    events). The buffer survives micro-batch boundaries in the state
    store; a row with ``order_col >= SENTINEL_SEQ`` (the feed's far-future
    sentinel) flushes the partial tail batch — no timer needed. Each
    micro-batch's complete batches (and a flushed tail) aggregate in one
    pandas group-by under the decomposable-aggregate table
    (``operators/aggregations.py``)."""
    agg = _simple_agg(fn, value_col)
    out_schema = f"batch_id bigint, {out_col} {agg.result_type(df).simpleString()}"
    cols = {name: (kind, value_col) for name, kind in agg.partials(0)}

    def proc(key, pdfs, state):
        held, bid = (unpack(state.get[0]), int(state.get[1])) if state.exists else (None, 0)
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(order_col)
        real = rows.loc[rows[order_col] < SENTINEL_SEQ, [value_col]]
        pool = pd.concat([held, real], ignore_index=True)
        flush = bool((rows[order_col] >= SENTINEL_SEQ).any())
        done = len(pool) if flush else len(pool) // n * n
        blocks = pool.iloc[:done].assign(batch_id=bid + np.arange(done) // n)
        parts = group_partials(blocks, ["batch_id"], cols)
        state.update((pack(pool.iloc[done:]), bid + len(parts)))
        yield pd.DataFrame({
            "batch_id": parts["batch_id"],
            out_col: agg.final(0, lambda name, _k: parts[name]),
        })

    return (
        df.select(F.lit("__g").alias("__k"), order_col, value_col)
        .groupBy("__k")
        .applyInPandasWithState(
            proc, out_schema, "buf binary, batch_id bigint", "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def _simple_agg(fn: str, value_col: str) -> SimpleAgg:
    """``fn(value_col)`` for a count window; ``fn`` must be decomposable."""
    if fn not in DECOMPOSABLE:
        raise ValueError(f"count window agg {fn!r} unsupported")
    return SimpleAgg(fn, f"`{value_col}`")


def sort_window_stream(
    df: DataFrame,
    n: int,
    attr: str,
    ascending: bool,
) -> DataFrame:
    """Live ``sort(N, attr)`` window — the streaming twin of the batch
    comparator-retention plan (reference ``sort_window_processor.rs:25``:
    keep the N best events under the comparator, evict the worst on each
    arrival). State carries the retained top-N rows across micro-batches;
    the feed's far-future sentinel flushes the FINAL retained set, which is
    what ``run()``'s final-state contract drains (per-arrival Expired
    emission is not part of the gated surface).

    Retention is a vectorized sort+head per micro-batch over at most
    N + batch rows — never the full history."""
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def proc(key, pdfs, state):
        held = unpack(state.get[0]) if state.exists else None
        rows = pd.concat(list(pdfs)).drop(columns="__k")
        real = rows[rows["__seq"] < SENTINEL_SEQ]
        flush = bool((rows["__seq"] >= SENTINEL_SEQ).any())
        pool = pd.concat([held, real], ignore_index=True)
        retained = pool.sort_values(
            [attr, "__seq"], ascending=[ascending, True], kind="stable"
        ).head(n)
        if flush and len(retained):
            yield retained
        state.update((pack(retained),))

    return (
        df.withColumn("__k", F.lit(0))
        .groupBy("__k")
        .applyInPandasWithState(
            proc, out_schema, "buf binary", "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def time_window_stream(
    df: DataFrame,
    d_ms: int,
) -> DataFrame:
    """Live ``time(d)`` window on the app's logical clock — the streaming
    twin of the SQL layer's batch restatement (final retained set = events
    within d of the last arrival; the reference's wall-clock expiry
    restated on event time, SURVEY §7.4 stance). State carries the
    trailing-d buffer plus the high-water arrival time; the sentinel
    flushes the final retained set for the final-state drain. Retention is
    a vectorized timestamp filter per micro-batch; state is bounded by the
    events inside one d-interval."""
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def proc(key, pdfs, state):
        held, hw = (unpack(state.get[0]), int(state.get[1])) if state.exists else (None, -(1 << 62))
        rows = pd.concat(list(pdfs)).drop(columns="__k")
        real = rows[rows["__seq"] < SENTINEL_SEQ]
        flush = bool((rows["__seq"] >= SENTINEL_SEQ).any())
        pool = pd.concat([held, real], ignore_index=True)
        if len(real):
            hw = max(hw, int(real["__ts"].astype("int64").max() // 1_000_000))
        if len(pool):
            ts_ms = pool["__ts"].astype("int64") // 1_000_000
            pool = pool[ts_ms > hw - d_ms]
        if flush and len(pool):
            yield pool
        state.update((pack(pool), hw))

    return (
        df.withColumn("__k", F.lit(0))
        .groupBy("__k")
        .applyInPandasWithState(
            proc, out_schema, "buf binary, hw bigint", "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def asof_stream(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_col: str = "value",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Streaming twin of :func:`operators.joins.asof_join` — the realtime
    (kdb ``aj``-style) as-of enrichment: every left event is joined against
    the most recent right value with ``right_ts <= left_ts`` per key.

    Both feeds are tagged and unioned into one keyed stream (the same
    single-shuffle formulation as the batch operator); per-key state is ONE
    (ts, value) pair — the latest right row seen — carried across
    micro-batches. Within a batch the match is a vectorized
    ``searchsorted`` against the (state-prefixed) right rows in
    ``(ts, side)`` order, so ties (right_ts == left_ts) match, identical to
    batch. O(1) state per key, append mode, no watermark needed.

    Semantics note: this is PROCESSING-order as-of — a right row that
    arrives in a later micro-batch than a left event it time-precedes
    cannot retro-match (the left row was already emitted). Equal to the
    batch result whenever the union feed is globally (ts, side)-ordered
    across chunks; the realtime-divergence case is pinned in
    TestAsofStream.
    """
    keys = [key] if isinstance(key, str) else list(key)
    lcols = [f.name for f in left.schema.fields]
    passthru = [f for f in left.schema.fields if f.name not in keys]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields)
        + f", asof_{value_col} double, asof_ts double"
    )

    l_t = left.select(
        *keys,
        F.col(left_ts).cast("timestamp_ltz").cast("double").alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("double").alias("__rv"),
        *[F.col(f.name) for f in passthru],
    )
    r_t = right.select(
        *keys,
        F.col(right_ts).cast("timestamp_ltz").cast("double").alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(value_col).cast("double").alias("__rv"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in passthru],
    )
    u = l_t.unionByName(r_t)

    def proc(key_tuple, pdfs, state):
        pdf = pd.concat(list(pdfs)).sort_values(["__ts", "__side"], kind="stable")
        r = pdf[pdf["__side"] == 0]
        rts = r["__ts"].to_numpy(dtype=np.float64)
        rvs = r["__rv"].to_numpy(dtype=np.float64)
        if state.exists:
            sts, svl = state.get
            rts = np.concatenate([[sts], rts])
            rvs = np.concatenate([[svl], rvs])
        lrows = pdf[pdf["__side"] == 1]
        if len(lrows):
            lts = lrows["__ts"].to_numpy(dtype=np.float64)
            if len(rts):
                idx = np.searchsorted(rts, lts, side="right") - 1
                hit = idx >= 0
                mts = np.where(hit, rts[np.maximum(idx, 0)], np.nan)
                mvl = np.where(hit, rvs[np.maximum(idx, 0)], np.nan)
            else:  # key has never seen a right row
                mts = np.full(len(lts), np.nan)
                mvl = np.full(len(lts), np.nan)
            if tolerance_seconds is not None:
                stale = lts - mts > float(tolerance_seconds)
                mts = np.where(stale, np.nan, mts)
                mvl = np.where(stale, np.nan, mvl)
            out = pd.DataFrame({c: lrows[c].to_numpy() for c in lcols})
            out[f"asof_{value_col}"] = mvl
            out["asof_ts"] = mts
            yield out
        if len(rts):
            state.update((float(rts[-1]), float(rvs[-1])))

    return u.groupBy(*keys).applyInPandasWithState(
        proc, out_schema, "ts double, val double", "append",
        GroupStateTimeout.NoTimeout,
    )


def gapfill_stream(
    feed: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Streaming twin of the batch LOCF gap-fill (events_gapfill_locf):
    per-key time buckets emit as they CLOSE — the first row of a LATER
    bucket closes the open one — and the missing buckets in between emit
    synthesized rows carrying the last closed bucket's sum (``is_gap=1``),
    so downstream consumers always see a dense per-key hourly series.

    State per key is O(1): (open_bucket, open_sum). Money discipline
    matches batch (integer cents via floor(value*100+0.5)). Processing-
    order semantics like :func:`asof_stream`: a row arriving after its
    bucket closed is dropped (documented divergence); on a time-ordered
    feed the output equals the batch operator minus each key's final,
    never-closed bucket — pinned in TestGapfillStream.
    """
    b = int(bucket_seconds)
    src = feed.select(
        F.col(key).cast("bigint").alias("__k"),
        F.col(ts_col).cast("timestamp_ltz").cast("double").alias("__ts"),
        F.expr(
            f"cast(floor({value_col} * 100 + 0.5) AS bigint)"
        ).alias("__c"),
    )
    out_schema = (
        f"{key} bigint, hour_epoch bigint, cents_filled bigint, is_gap int"
    )

    def proc(key_tuple, pdfs, state):
        pdf = pd.concat(list(pdfs)).sort_values("__ts", kind="stable")
        he = (np.floor(pdf["__ts"].to_numpy() / b) * b).astype(np.int64)
        cents = pdf["__c"].to_numpy(dtype=np.int64)
        if state.exists:
            open_he, open_sum = state.get
        else:
            open_he, open_sum = None, 0
        rows = []
        # bucket ids arrive sorted (feed sorted by ts); group-sum runs of
        # equal he in order
        uniq, starts = np.unique(he, return_index=True)
        order = np.argsort(starts)
        for h in uniq[order]:
            s = int(cents[he == h].sum())
            if open_he is None:
                open_he, open_sum = int(h), s
            elif h == open_he:
                open_sum += s
            elif h > open_he:
                rows.append((open_he, open_sum, 0))
                for m in range(open_he + b, int(h), b):
                    rows.append((m, open_sum, 1))
                open_he, open_sum = int(h), s
            # h < open_he: late row for a closed bucket -> dropped
            # (processing-order semantics, same contract as asof_stream)
        state.update((int(open_he), int(open_sum)))
        if rows:
            k = key_tuple[0]
            yield pd.DataFrame(
                {
                    key: np.full(len(rows), k, dtype=np.int64),
                    "hour_epoch": [r[0] for r in rows],
                    "cents_filled": [r[1] for r in rows],
                    "is_gap": pd.Series([r[2] for r in rows], dtype="int32"),
                }
            )

    return src.groupBy("__k").applyInPandasWithState(
        proc,
        out_schema,
        "open_he bigint, open_sum bigint",
        "append",
        GroupStateTimeout.NoTimeout,
    )
