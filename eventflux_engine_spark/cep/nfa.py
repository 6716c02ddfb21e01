"""The NFA transition core, shared by batch and streaming executors.

Semantics replicated from the reference's pre/post state-processor chain
(``/root/reference/src/core/query/input/stream/state/stream_pre_state_processor.rs``):

- events replay per key in ``(ts, turn_idx)`` order
- **promote-then-match** ordering invariant: an event first advances
  instances created by *earlier* events, then may start a new instance — one
  event can match at most one position of any given instance
  (``query_parser.rs:621-626``)
- ``WITHIN`` is an event-time deadline measured from the first matched event;
  expired partial matches are dropped reactively on arrival
  (``stream_pre_state_processor.rs:282-296``)
- count quantifiers branch once ``min_count`` is reached: the instance both
  keeps accumulating and forwards a copy to the next step
  (``count_pre_state_processor.rs`` forwarding contract)
- PATTERN mode ignores non-matching events; SEQUENCE mode kills partials on
  any non-matching event (``PATTERN_PROCESSING.md:69-72``)
- without EVERY, matching stops after the first completed match

The matcher is deliberately row-sequential *within a key* — so is the
reference — but keys are independent, so Spark parallelizes across
``conv_id`` groups. Linear patterns and the absent pattern skip it: their
Arrow-native kernels (:func:`match_linear_block`, :func:`match_absent_block`)
run one vectorized ``numpy.searchsorted`` pass over a whole-key block of
many conversations (``blocks.iter_key_blocks``).
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa

from .blocks import flags, key_starts, ts_ticks
from .spec import PatternSpec, Step

# instance = {"step": int, "count": int, "first_ts": int(ns),
#             "matched": list[list[event-dict]]}  (one list per step)


def _event_fields(spec: PatternSpec) -> list[str]:
    fields = {"turn_idx", spec.ts_col}
    for s in spec.steps:
        fields.update(s.emit)
        fields.update(c for _, c in s.agg_emit)
        fields.update(c for _, c in s.index_emit)
    return sorted(fields)


_COLLECTION_AGGS = {
    "sum": sum,
    "count": len,
    "min": min,
    "max": max,
    "avg": lambda xs: sum(xs) / len(xs),
}


def _effective_flags(pdf: pd.DataFrame, step: Step) -> np.ndarray:
    """Step match mask; OR steps match on either side
    (logical_pre_state_processor.rs OR semantics)."""
    f = pdf[step.flag_col].to_numpy()
    if step.logic == "or":
        return f | pdf[step.flag_col2].to_numpy()
    return f


def _emit_row(spec: PatternSpec, key: Any, matched: list[list[dict]]) -> dict:
    row: dict[str, Any] = {"conv_id": key}
    for i, s in enumerate(spec.steps):
        last = matched[i][-1]
        row[f"{s.name}_turn_idx"] = last["turn_idx"]
        # event dicts carry ts as int ns (JSON-serializable group state)
        row[f"{s.name}_ts"] = pd.Timestamp(last[spec.ts_col])
        if s.max_count > 1:
            row[f"{s.name}_count"] = len(matched[i])
        for c in s.emit:
            row[f"{s.name}_{c}"] = last[c]
        for fn, c in s.agg_emit:
            # collection aggregation over the step's matched-event chain
            # (collection_aggregation_executor.rs:141-696)
            vals = [ev[c] for ev in matched[i]]
            row[f"{s.name}_{fn}_{c}"] = _COLLECTION_AGGS[fn](vals)
        for idx, c in s.index_emit:
            # indexed chain access e1[0].x / e1[last].x
            # (indexed_variable_executor.rs:67); None past the chain end
            chain = matched[i]
            if idx == "last":
                ev = chain[-1]
            else:
                ev = chain[idx] if idx < len(chain) else None
            row[f"{s.name}_at{idx}_{c}"] = None if ev is None else ev[c]
    return row


def run_nfa(
    pdf: pd.DataFrame,
    spec: PatternSpec,
    instances: list[dict] | None = None,
    matched_done: bool = False,
) -> tuple[list[dict], list[dict], bool]:
    """Run transitions over one key's (sorted) events.

    Returns (emitted match rows, surviving instances, matched_done flag).
    ``instances`` carries partial matches across micro-batches (streaming).
    """
    instances = [
        {**inst, "and_state": inst.get("and_state", [None, None])}
        for inst in (instances or [])
    ]
    out: list[dict] = []
    if pdf.empty and not instances:
        return out, instances, matched_done

    pdf = pdf.sort_values(list(spec.order_cols), kind="mergesort")
    key = pdf[spec.key_col].iloc[0] if len(pdf) else None
    fields = _event_fields(spec)
    ts_ns = pd.to_datetime(pdf[spec.ts_col]).astype("int64").to_numpy()
    field_arrays = {f: pdf[f].to_numpy() for f in fields}
    field_arrays[spec.ts_col] = ts_ns  # keep ts as int ns inside event dicts
    flag_arrays = [_effective_flags(pdf, s) for s in spec.steps]
    side2_arrays = [
        pdf[s.flag_col2].to_numpy() if s.logic == "and" else None
        for s in spec.steps
    ]
    within_ns = int(spec.within.value) if spec.within is not None else None
    n_steps = len(spec.steps)

    def event_dict(i: int) -> dict:
        # .item() → JSON-serializable Python natives for cross-batch state
        return {f: field_arrays[f][i].item() if hasattr(field_arrays[f][i], "item") else field_arrays[f][i] for f in fields}

    def try_advance(inst: dict, row: int, ev: dict | None) -> list[dict]:
        """Apply event ``row`` to ``inst``; mutates/branches; returns
        surviving instance list (may be empty when a match completes or a
        sequence-mode miss kills it)."""
        nonlocal matched_done
        step_idx = inst["step"]
        step: Step = spec.steps[step_idx]
        if step.logic == "and":
            # AND position: one event fills at most one side; advance when
            # both sides are filled (any order) —
            # logical_pre_state_processor.rs:71
            got = inst["and_state"]
            m1 = bool(flag_arrays[step_idx][row])
            m2 = bool(side2_arrays[step_idx][row])
            filled = False
            if m1 and got[0] is None:
                got[0] = ev
                filled = True
            elif m2 and got[1] is None:
                got[1] = ev
                filled = True
            if not filled:
                if spec.mode == "sequence" and not (m1 or m2):
                    return []
                return [inst]
            if got[0] is not None and got[1] is not None:
                # fill order, completing event last (it is the step's
                # "last matched" for emit and ordering purposes)
                other = got[0] if got[1] is ev else got[1]
                inst["matched"][step_idx] = [other, ev]
                inst["and_state"] = [None, None]
                inst["step"] = step_idx + 1
                inst["count"] = 0
                if inst["step"] == n_steps:
                    out.append(_emit_row(spec, key, inst["matched"]))
                    matched_done = True
                    return []
            return [inst]
        matches = bool(flag_arrays[step_idx][row])
        if matches and step.cross_pred is not None:
            matches = bool(step.cross_pred(ev, {
                spec.steps[j].name: inst["matched"][j] for j in range(step_idx)
            }))
        if not matches:
            if spec.mode == "sequence":
                return []  # strict contiguity: partial match dies
            return [inst]

        inst["matched"][step_idx] = inst["matched"][step_idx] + [ev]
        inst["count"] += 1
        survivors: list[dict] = []
        can_advance = inst["count"] >= step.min_count
        can_stay = inst["count"] < step.max_count
        if can_stay:
            survivors.append(inst)
        if can_advance:
            fwd = inst if not can_stay else {
                "step": inst["step"],
                "count": inst["count"],
                "first_ts": inst["first_ts"],
                "matched": list(inst["matched"]),
                "and_state": [None, None],
            }
            fwd["step"] = step_idx + 1
            fwd["count"] = 0
            if fwd["step"] == n_steps:
                out.append(_emit_row(spec, key, fwd["matched"]))
                matched_done = True
            else:
                survivors.append(fwd)
        return survivors

    def any_flag(row: int) -> bool:
        if any(fa[row] for fa in flag_arrays):
            return True
        return any(sa is not None and sa[row] for sa in side2_arrays)

    step0_arm = flag_arrays[0]
    if side2_arrays[0] is not None:  # AND first step: either side arms
        step0_arm = flag_arrays[0] | side2_arrays[0]

    for row in range(len(pdf)):
        t = int(ts_ns[row])  # python int: instances must stay JSON-serializable
        # 1) reactive expiry of partials past their WITHIN deadline
        if within_ns is not None:
            instances = [
                inst for inst in instances if t - inst["first_ts"] <= within_ns
            ]
        # 2) advance instances created by earlier events (promote-then-match)
        ev = event_dict(row) if any_flag(row) else None
        nxt: list[dict] = []
        for inst in instances:
            nxt.extend(try_advance(inst, row, ev))
        instances = nxt
        # 3) possibly start a new instance at step 0
        if step0_arm[row] and (spec.every or (not matched_done and not instances)):
            fresh = {
                "step": 0,
                "count": 0,
                "first_ts": t,
                "matched": [[] for _ in range(n_steps)],
                "and_state": [None, None],
            }
            instances.extend(try_advance(fresh, row, ev))

    return out, instances, matched_done




def linear_chain(
    block: pa.RecordBatch, spec: PatternSpec, codes: np.ndarray
) -> list[np.ndarray]:
    """Row positions of every match of a linear spec in a MULTI-KEY block
    sorted by ``(key, ts, turn_idx)``, one array per step; ``codes`` numbers
    the block's key runs.

    Chained ``searchsorted``: each step-0 event pairs with the first later
    event of each following step. One numpy pass covers every key in the
    block; a candidate found past a key boundary lands on another key code
    and is discarded.
    """
    positions = []
    for s in spec.steps:
        f = flags(block, s.flag_col)
        if s.logic == "or":
            f = f | flags(block, s.flag_col2)
        positions.append(np.flatnonzero(f))
    if any(len(p) == 0 for p in positions):
        return [p[:0] for p in positions]

    chain = [positions[0]]
    alive = np.ones(len(chain[0]), dtype=bool)
    prev = chain[0]
    for pos in positions[1:]:
        nxt_idx = np.searchsorted(pos, prev, side="right")
        ok = nxt_idx < len(pos)
        nxt = np.where(ok, pos[np.minimum(nxt_idx, len(pos) - 1)], -1)
        alive &= ok
        alive &= codes[np.maximum(nxt, 0)] == codes[chain[0]]
        chain.append(nxt)
        prev = np.where(alive, nxt, len(codes))

    if spec.within is not None and len(chain) > 1:
        ts, ns = ts_ticks(block, spec.ts_col)
        # d ticks <= W ns  <=>  d <= W // ns for integer d
        alive &= ts[np.maximum(chain[-1], 0)] - ts[chain[0]] <= int(spec.within.value) // ns
    return [c[alive] for c in chain]


def match_linear_block(block: pa.RecordBatch, spec: PatternSpec) -> pa.RecordBatch:
    """Match rows of a linear spec over a multi-key block, in the column
    order and types of ``batch.output_schema``: every column is a ``take``
    from the input."""
    assert spec.is_linear
    chain = linear_chain(block, spec, np.cumsum(key_starts(block.column(spec.key_col))))
    idx = [pa.array(c) for c in chain]
    cols = {"conv_id": block.column(spec.key_col).take(idx[0])}
    for i, s in enumerate(spec.steps):
        cols[f"{s.name}_turn_idx"] = block.column("turn_idx").take(idx[i])
        cols[f"{s.name}_ts"] = block.column(spec.ts_col).take(idx[i])
        for c in s.emit:
            cols[f"{s.name}_{c}"] = block.column(c).take(idx[i])
    return pa.RecordBatch.from_pydict(cols)


def match_absent_block(
    block: pa.RecordBatch,
    key_col: str,
    ts_col: str,
    trigger_flag: str,
    absent_flag: str,
    duration_ns: int,
    emit_cols: tuple[str, ...] = ("turn_idx",),
) -> pa.RecordBatch:
    """Absent pattern ``trigger -> NOT absent FOR d``: emit each trigger
    event with NO absent-flagged event of the same key in
    ``(trigger.ts, trigger.ts + d]``.

    The reference specs this but never implemented it (needs its TimerWheel
    — ``PATTERN_PROCESSING.md:34-38``); here it is one vectorized
    searchsorted probe over a ``(key, ts)``-sorted block. Input contract ==
    :func:`match_linear_block`.
    """
    codes = np.cumsum(key_starts(block.column(key_col)))
    trig = np.flatnonzero(flags(block, trigger_flag))
    absent = np.flatnonzero(flags(block, absent_flag))
    violated = np.zeros(len(trig), dtype=bool)
    if len(absent):
        ts, ns = ts_ticks(block, ts_col)
        # probe from the last row of the trigger's (key, ts) run: an absent
        # row at the trigger's own ts is outside (ts, ts + d]
        run_ends = np.flatnonzero(
            np.r_[(codes[1:] != codes[:-1]) | (ts[1:] != ts[:-1]), True]
        )
        end = run_ends[np.searchsorted(run_ends, trig)]
        nxt_idx = np.searchsorted(absent, end, side="right")
        nxt = absent[np.minimum(nxt_idx, len(absent) - 1)]
        violated = (
            (nxt_idx < len(absent))
            & (codes[nxt] == codes[trig])
            & (ts[nxt] - ts[trig] <= duration_ns // ns)
        )
    sel = pa.array(trig[~violated])
    cols = {"conv_id": block.column(key_col).take(sel)}
    cols.update((c, block.column(c).take(sel)) for c in emit_cols)
    cols["ts"] = block.column(ts_col).take(sel)
    return pa.RecordBatch.from_pydict(cols)
