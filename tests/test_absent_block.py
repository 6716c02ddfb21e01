"""``match_absent_block`` against a brute-force reading of ``trigger -> NOT
absent FOR d``: a trigger is emitted iff no absent row of its key has a ts
in ``(trigger.ts, trigger.ts + d]``. Blocks hold several keys (a null key
among them) and many timestamp ties (no Spark needed)."""

from __future__ import annotations

import datetime

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from eventflux_engine_spark.cep.nfa import match_absent_block

SECOND = 1_000_000  # microseconds


@st.composite
def blocks(draw):
    """A ``(key, ts, turn_idx)``-sorted block over few keys and few distinct
    timestamps, with nullable trigger/absent flags."""
    n = draw(st.integers(0, 40))
    flag = st.one_of(st.none(), st.booleans())
    rows = sorted(
        (
            draw(st.sampled_from(["", "a", "b", "c"])),  # "" stands for NULL
            draw(st.integers(0, 8)),
            i,
            draw(flag),
            draw(flag),
        )
        for i in range(n)
    )
    cols = list(zip(*rows)) or [[]] * 5
    return pa.RecordBatch.from_pydict({
        "conv_id": pa.array([k or None for k in cols[0]], pa.string()),
        "ts": pa.array([t * SECOND for t in cols[1]], pa.timestamp("us")),
        "turn_idx": pa.array(cols[2], pa.int32()),
        "trig": pa.array(cols[3], pa.bool_()),
        "absent": pa.array(cols[4], pa.bool_()),
    })


def brute_force(block: pa.RecordBatch, d_s: int) -> list[int]:
    d = datetime.timedelta(seconds=d_s)
    rows = block.to_pylist()
    return [
        u["turn_idx"]
        for u in rows
        if u["trig"]
        and not any(
            a["absent"] and a["conv_id"] == u["conv_id"] and u["ts"] < a["ts"] <= u["ts"] + d
            for a in rows
        )
    ]


@given(block=blocks(), d_s=st.integers(0, 4))
@settings(max_examples=400, deadline=None)
def test_matches_brute_force_with_ties(block, d_s):
    out = match_absent_block(
        block, "conv_id", "ts", "trig", "absent", d_s * 1_000_000_000, ("turn_idx",)
    )
    assert out.column("turn_idx").to_pylist() == brute_force(block, d_s)


def test_absent_row_at_the_trigger_ts_does_not_cancel_it():
    block = pa.RecordBatch.from_pydict({
        "conv_id": pa.array(["k", "k", "k"]),
        "ts": pa.array([0, 0, 20 * SECOND], pa.timestamp("us")),
        "turn_idx": pa.array([0, 1, 2], pa.int32()),
        "trig": pa.array([True, False, True]),
        "absent": pa.array([False, True, False]),
    })
    out = match_absent_block(block, "conv_id", "ts", "trig", "absent", 5 * 10**9)
    assert out.column("turn_idx").to_pylist() == [0, 2]
