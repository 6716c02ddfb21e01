"""Fused single-pass transcript CEP pipeline over bucketed input.

The north-star metric job (BASELINE.json): pattern-match + session-window
agg + tumbling turn counts over conversation transcripts. When the input is
stored bucketed by ``conv_id`` and sorted by ``(conv_id, ts, turn_idx)``
(the Iceberg ``bucket(conv_id)`` + sorted-files layout — emulated by
``synth_transcripts_bucketed``), every keyed computation becomes map-side:

- sequence pattern matches  → vectorized searchsorted chains
- session windows (gap g)   → one boolean diff over the sorted ts array
- tumbling windows          → epoch bucketing + unique-pair counting
- per-conv aggregates       → ``np.add.reduceat`` over conv boundaries

One ``mapInArrow`` pass over whole-key Arrow blocks, zero shuffle (only
the final tiny per-conv rollup exchanges). This is the plan a 10^12-turn
deployment runs: the expensive exchange is paid ONCE at write time
(bucketed storage), every query after that is embarrassingly parallel.
Parity with the composed operators (match_pattern_batch + session_window +
window aggs) is pytest-enforced.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .blocks import key_starts, map_key_blocks, ts_ticks
from .nfa import linear_chain
from .spec import PatternSpec

OUT_SCHEMA = (
    "conv_id string, n_turns long, n_matches long, n_sessions long, "
    "n_windows long, tool_calls long"
)


def rollup_block(
    block: pa.RecordBatch, spec: PatternSpec, gap_s: int, window_s: int
) -> pa.RecordBatch:
    """One ``OUT_SCHEMA`` row per conversation of a whole-key block."""
    keys = block.column(spec.key_col)
    new_conv = key_starts(keys)
    starts = np.flatnonzero(new_conv)
    codes = np.cumsum(new_conv) - 1
    # ts stays in int64 ticks of its own unit, so session gaps compare at
    # full precision: truncated to whole seconds, a 1800.2 s gap straddling
    # a second boundary reads 1800 and misses the break (9/15000 convs at
    # sf1.0 — caught by scale evidence, invisible at sf0.01).
    ts, ns = ts_ticks(block, spec.ts_col)

    n_turns = np.diff(np.r_[starts, len(ts)])
    # a null tool counts as a call, as ``!= ""`` did on pandas objects
    is_call = pc.fill_null(pc.not_equal(block.column("tool"), ""), True)
    tool_calls = np.add.reduceat(is_call.to_numpy(zero_copy_only=False), starts, dtype=np.int64)

    # sessions: new session at conv start or gap > gap_s. Boundary semantics
    # verified empirically against F.session_window (test_fused boundary
    # test): an event arriving EXACTLY gap_s after the previous one EXTENDS
    # the session in Spark (inclusive merge), so strict > is the parity rule.
    # For integer d: d ticks > G ns <=> d > G // ns.
    new_session = new_conv | (np.r_[0, np.diff(ts)] > gap_s * 1_000_000_000 // ns)
    n_sessions = np.add.reduceat(new_session, starts, dtype=np.int64)

    # tumbling windows: distinct (conv, bucket) — sorted, so count
    # transitions. floor(x / w) == floor(floor(x) / w): the bucket of the
    # tick equals the bucket of its whole second.
    bucket = ts // (window_s * 1_000_000_000 // ns)
    new_window = new_conv | np.r_[False, bucket[1:] != bucket[:-1]]
    n_windows = np.add.reduceat(new_window, starts, dtype=np.int64)

    first = linear_chain(block, spec, codes)[0]
    n_matches = np.bincount(codes[first], minlength=len(starts))

    return pa.RecordBatch.from_pydict(
        {
            "conv_id": keys.take(pa.array(starts)),
            "n_turns": n_turns,
            "n_matches": n_matches,
            "n_sessions": n_sessions,
            "n_windows": n_windows,
            "tool_calls": tool_calls,
        }
    )


def fused_transcript_pipeline(
    df: DataFrame,
    spec: PatternSpec,
    session_gap_s: int = 1800,
    window_s: int = 300,
    input_sorted: bool = False,
) -> DataFrame:
    """Per-conversation CEP rollup: one row per conv with turn count,
    pattern-match count, session count, non-empty tumbling-window count and
    tool-call count. ``input_sorted`` as in :func:`match_pattern_batch` —
    default False (repartition+sort) because a plain ``spark.read`` of even
    bucketed storage can split a key's files across tasks; pass True only
    for input that comes through ``read_bucket_sorted`` /
    ``synth_transcripts_bucketed``, which guarantee per-partition key
    integrity and sort order."""
    assert spec.is_linear, "fused pipeline supports linear patterns"
    needed = sorted(
        {spec.key_col, "turn_idx", spec.ts_col, "tool", *spec.order_cols}
        | {s.flag_col for s in spec.steps}
    )
    pruned = df.select(*needed)
    if not input_sorted:
        pruned = pruned.repartition(spec.key_col).sortWithinPartitions(
            spec.key_col, *spec.order_cols
        )
    return map_key_blocks(
        pruned, spec.key_col,
        lambda block: rollup_block(block, spec, session_gap_s, window_s),
        OUT_SCHEMA,
    )
