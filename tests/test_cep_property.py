"""Property-based NFA verification (hypothesis).

An independent brute-force matcher defines EVERY-sequence semantics from
first principles — each step-0 event pairs greedily with the first
subsequent event per position — and the NFA (both paths) must agree on
arbitrary role sequences, gaps, and WITHIN bounds. The Arrow linear kernel
runs the way Spark runs it: over one block holding several conversations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from eventflux_engine_spark.cep import PatternSpec, Step
from eventflux_engine_spark.cep.nfa import match_linear_block, run_nfa


def brute_force_linear(roles, gaps_s, step_roles, within_s=None):
    """Greedy first-next matching: for each occurrence of step_roles[0],
    chain to the first later occurrence of each subsequent step role."""
    ts = np.cumsum([0] + gaps_s[:-1]) if gaps_s else []
    out = []
    for i, r in enumerate(roles):
        if r != step_roles[0]:
            continue
        chain = [i]
        pos = i
        ok = True
        for want in step_roles[1:]:
            nxt = next((j for j in range(pos + 1, len(roles)) if roles[j] == want), None)
            if nxt is None:
                ok = False
                break
            chain.append(nxt)
            pos = nxt
        if ok and (within_s is None or ts[chain[-1]] - ts[chain[0]] <= within_s):
            out.append(tuple(chain))
    return sorted(out)


def frame(roles, gaps_s):
    ts = np.cumsum([0] + gaps_s[:-1]) if gaps_s else []
    base = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "conv_id": "c",
            "turn_idx": np.arange(len(roles), dtype="int32"),
            "ts": [base + pd.Timedelta(seconds=int(t)) for t in ts],
            "is_a": [r == "A" for r in roles],
            "is_b": [r == "B" for r in roles],
            "is_c": [r == "C" for r in roles],
        }
    )


def linear_block_matches(convs, gaps_s, spec):
    """Step turn indices per conversation from the Arrow linear kernel run
    over one block that holds every conversation in ``convs``."""
    got = {f"c{i}": [] for i in range(len(convs))}
    frames = [
        frame(r, gaps_s[: len(r)]).assign(conv_id=f"c{i}") for i, r in enumerate(convs) if r
    ]
    if not frames:
        return got
    pdf = pd.concat(frames, ignore_index=True)
    out = match_linear_block(pa.RecordBatch.from_pandas(pdf, preserve_index=False), spec)
    cols = ["conv_id", *(f"{s.name}_turn_idx" for s in spec.steps)]
    for t in out.to_pandas()[cols].itertuples(index=False):
        got[t[0]].append(tuple(int(v) for v in t[1:]))
    return {k: sorted(v) for k, v in got.items()}


ROLES = st.lists(st.sampled_from(["A", "B", "C", "X"]), min_size=0, max_size=60)
GAPS = st.lists(st.integers(min_value=1, max_value=120), min_size=60, max_size=60)


class TestNFAProperties:
    @given(
        roles=ROLES,
        gaps=GAPS,
        within=st.sampled_from([None, 90, 300]),
        others=st.lists(ROLES, max_size=3),
    )
    @settings(max_examples=150, deadline=None)
    def test_linear_two_step_matches_brute_force(self, roles, gaps, within, others):
        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b")),
            within=pd.Timedelta(seconds=within) if within else None,
        )
        pdf = frame(roles, gaps[: len(roles)])
        want = brute_force_linear(roles, gaps[: len(roles)], ["A", "B"], within)
        rows, _, _ = run_nfa(pdf, spec)
        got_slow = sorted((r["e1_turn_idx"], r["e2_turn_idx"]) for r in rows)
        assert got_slow == want
        convs = [roles, *others]
        got_fast = linear_block_matches(convs, gaps, spec)
        assert got_fast == {
            f"c{i}": brute_force_linear(r, gaps[: len(r)], ["A", "B"], within)
            for i, r in enumerate(convs)
        }

    @given(roles=ROLES, gaps=GAPS)
    @settings(max_examples=100, deadline=None)
    def test_linear_three_step_matches_brute_force(self, roles, gaps):
        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b"), Step("e3", "is_c"))
        )
        pdf = frame(roles, gaps[: len(roles)])
        want = brute_force_linear(roles, gaps[: len(roles)], ["A", "B", "C"])
        rows, _, _ = run_nfa(pdf, spec)
        got = sorted(
            (r["e1_turn_idx"], r["e2_turn_idx"], r["e3_turn_idx"]) for r in rows
        )
        assert got == want

    @given(roles=ROLES, gaps=GAPS, split=st.integers(min_value=0, max_value=60))
    @settings(max_examples=100, deadline=None)
    def test_state_carryover_is_split_invariant(self, roles, gaps, split):
        # cutting the event stream at ANY point and threading state across
        # the cut must not change the matches (streaming micro-batch law)
        spec = PatternSpec(steps=(Step("e1", "is_a"), Step("e2", "is_b")))
        pdf = frame(roles, gaps[: len(roles)])
        k = min(split, len(pdf))
        r1, inst, done = run_nfa(pdf.iloc[:k], spec)
        r2, _, _ = run_nfa(pdf.iloc[k:], spec, instances=inst, matched_done=done)
        split_pairs = sorted(
            (r["e1_turn_idx"], r["e2_turn_idx"]) for r in (r1 + r2)
        )
        whole, _, _ = run_nfa(pdf, spec)
        whole_pairs = sorted((r["e1_turn_idx"], r["e2_turn_idx"]) for r in whole)
        assert split_pairs == whole_pairs
