"""NFA semantics tests — hand fixtures transcribed from the reference's
pattern test semantics (tests/app_runner_patterns.rs, PATTERN_PROCESSING.md),
re-expressed on the transcript data model (FIXTURES.md F3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from eventflux_engine_spark.cep import PatternSpec, Step, match_pattern_batch
from eventflux_engine_spark.cep.nfa import match_linear_block, run_nfa


def mk_events(roles: list[str], gap_s: int = 60, conv: str = "c1") -> pd.DataFrame:
    base = pd.Timestamp("2024-01-01 00:00:00")
    return pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": np.arange(len(roles), dtype="int32"),
            "role": roles,
            "ts": [base + pd.Timedelta(seconds=gap_s * i) for i in range(len(roles))],
            "is_a": [r == "A" for r in roles],
            "is_b": [r == "B" for r in roles],
            "is_c": [r == "C" for r in roles],
        }
    )


def seq_spec(**kw) -> PatternSpec:
    steps = kw.pop("steps", (Step("e1", "is_a"), Step("e2", "is_b")))
    return PatternSpec(steps=steps, **kw)


def pairs(rows: list[dict]) -> list[tuple]:
    return sorted((r["e1_turn_idx"], r["e2_turn_idx"]) for r in rows)


class TestSequence:
    def test_simple_followed_by(self):
        # A at 0 matches the NEXT B (skip-irrelevant PATTERN mode,
        # PATTERN_PROCESSING.md:69-72)
        rows, _, _ = run_nfa(mk_events(["A", "C", "B"]), seq_spec())
        assert pairs(rows) == [(0, 2)]

    def test_every_overlapping_instances(self):
        # every A arms a new instance; one B completes all armed instances
        # (pattern_every_overlapping_test.rs semantics)
        rows, _, _ = run_nfa(mk_events(["A", "A", "B"]), seq_spec(every=True))
        assert pairs(rows) == [(0, 2), (1, 2)]

    def test_non_every_matches_once(self):
        rows, _, _ = run_nfa(mk_events(["A", "B", "A", "B"]), seq_spec(every=False))
        assert pairs(rows) == [(0, 1)]

    def test_every_rearms(self):
        rows, _, _ = run_nfa(mk_events(["A", "B", "A", "B"]), seq_spec(every=True))
        assert pairs(rows) == [(0, 1), (2, 3)]

    def test_event_matches_at_most_one_position(self):
        # promote-then-match (query_parser.rs:621-626): the B completing an
        # instance cannot also arm/extend the same instance
        rows, _, _ = run_nfa(mk_events(["A", "B", "B"]), seq_spec(every=True))
        assert pairs(rows) == [(0, 1)]

    def test_sequence_mode_strict(self):
        # SEQUENCE kills partials on any non-matching event
        rows, _, _ = run_nfa(mk_events(["A", "C", "B"]), seq_spec(mode="sequence"))
        assert pairs(rows) == []
        rows, _, _ = run_nfa(mk_events(["A", "B"]), seq_spec(mode="sequence"))
        assert pairs(rows) == [(0, 1)]


class TestWithin:
    def test_within_expires_partials(self):
        # WITHIN from first matched event (stream_pre_state_processor.rs:282)
        ev = mk_events(["A", "C", "B"], gap_s=400)  # B at +800s
        rows, _, _ = run_nfa(ev, seq_spec(within=pd.Timedelta(seconds=600)))
        assert pairs(rows) == []
        rows, _, _ = run_nfa(ev, seq_spec(within=pd.Timedelta(seconds=900)))
        assert pairs(rows) == [(0, 2)]

    def test_within_boundary_inclusive(self):
        ev = mk_events(["A", "B"], gap_s=600)
        rows, _, _ = run_nfa(ev, seq_spec(within=pd.Timedelta(seconds=600)))
        assert pairs(rows) == [(0, 1)]


class TestQuantifiers:
    def test_exact_count(self):
        # A -> B{2} -> C : needs exactly two Bs then a C
        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b", 2, 2), Step("e3", "is_c"))
        )
        rows, _, _ = run_nfa(mk_events(["A", "B", "B", "C"]), spec)
        assert len(rows) == 1
        r = rows[0]
        assert (r["e1_turn_idx"], r["e2_turn_idx"], r["e2_count"], r["e3_turn_idx"]) == (0, 2, 2, 3)

    def test_min_max_branches(self):
        # B{1,2}: after 1 B the instance forwards AND keeps accumulating —
        # C completes both branches (count_pre_state_processor.rs forwarding)
        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b", 1, 2), Step("e3", "is_c")),
        )
        rows, _, _ = run_nfa(mk_events(["A", "B", "B", "C"]), spec)
        counts = sorted(r["e2_count"] for r in rows)
        assert counts == [1, 2]

    def test_insufficient_count_no_match(self):
        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b", 2, 2), Step("e3", "is_c"))
        )
        rows, _, _ = run_nfa(mk_events(["A", "B", "C"]), spec)
        assert rows == []

    def test_unbounded_rejected(self):
        # the reference rejects unbounded quantifiers too
        # (PATTERN_PROCESSING.md:210-219)
        with pytest.raises(ValueError):
            Step("e1", "is_a", 2, 1)


class TestCrossStepPredicates:
    def test_cross_step_filter(self):
        # e2[turn_idx > e1.turn_idx + 2] — filter at step k referencing
        # earlier matched events (PATTERN_PROCESSING.md:130-137)
        def pred(ev, matched):
            return ev["turn_idx"] > matched["e1"][-1]["turn_idx"] + 2

        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b", cross_pred=pred))
        )
        rows, _, _ = run_nfa(mk_events(["A", "B", "C", "B"]), spec)
        assert pairs(rows) == [(0, 3)]


class TestStatefulContinuation:
    def test_state_carries_across_batches(self):
        # streaming contract: partial matches survive micro-batch boundaries
        ev = mk_events(["A", "C", "B"])
        spec = seq_spec()
        rows1, inst, done = run_nfa(ev.iloc[:2], spec)
        assert rows1 == [] and len(inst) == 1
        rows2, _, _ = run_nfa(ev.iloc[2:], spec, instances=inst, matched_done=done)
        assert pairs(rows2) == [(0, 2)]


class TestVectorizedFastPath:
    @pytest.mark.parametrize("seed", range(5))
    def test_equivalence_with_slow_path(self, seed):
        # the Arrow kernel runs over one block of several conversations, as
        # in a Spark task; run_nfa replays each conversation on its own
        rng = np.random.RandomState(seed)
        convs = [
            mk_events(rng.choice(["A", "B", "C"], size=200).tolist(), gap_s=37, conv=f"c{i}")
            for i in range(3)
        ]
        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b"), Step("e3", "is_c")),
            within=pd.Timedelta(seconds=500),
        )
        assert spec.is_linear
        block = pa.RecordBatch.from_pandas(pd.concat(convs, ignore_index=True), preserve_index=False)
        fast = match_linear_block(block, spec).to_pandas()
        slow = pd.DataFrame([r for ev in convs for r in run_nfa(ev, spec)[0]])
        cols = ["conv_id", "e1_turn_idx", "e2_turn_idx", "e3_turn_idx"]
        if fast.empty and slow.empty:
            return
        ints = {c: "int64" for c in cols[1:]}
        got = fast[cols].astype(ints).sort_values(cols).reset_index(drop=True)
        want = slow[cols].astype(ints).sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want)


class TestSparkIntegration:
    def test_non_linear_spec_on_spark(self, spark):
        # quantified pattern goes through the run_nfa slow path in
        # applyInPandas; verify end-to-end on a multi-conv frame
        ev = pd.concat(
            [
                mk_events(["A", "B", "B", "C"], conv="c1"),
                mk_events(["A", "B", "C"], conv="c2"),
                mk_events(["C", "B", "A"], conv="c3"),
            ]
        )
        df = spark.createDataFrame(ev)
        spec = PatternSpec(
            steps=(Step("e1", "is_a"), Step("e2", "is_b", 2, 2), Step("e3", "is_c"))
        )
        out = match_pattern_batch(df, spec).toPandas()
        assert sorted(out["conv_id"]) == ["c1"]
        assert out.iloc[0]["e2_count"] == 2


class TestCollectionAggregations:
    def test_sum_avg_over_quantified_step(self):
        # ≙ collection aggs over matches: count(e1), sum(e1.x), avg/min/max
        # (collection_aggregation_executor.rs:141-696)
        ev = mk_events(["A", "B", "B", "B", "C"])
        ev["price"] = [5, 10, 20, 30, 99]
        spec = PatternSpec(
            steps=(
                Step("e1", "is_a"),
                Step(
                    "e2", "is_b", 3, 3,
                    agg_emit=(("sum", "price"), ("avg", "price"),
                              ("min", "price"), ("max", "price")),
                ),
                Step("e3", "is_c"),
            )
        )
        rows, _, _ = run_nfa(ev, spec)
        assert len(rows) == 1
        r = rows[0]
        assert r["e2_sum_price"] == 60
        assert r["e2_avg_price"] == 20.0
        assert r["e2_min_price"] == 10 and r["e2_max_price"] == 30

    def test_spark_end_to_end_with_agg_emit(self, spark):
        ev = mk_events(["A", "B", "B", "C"])
        ev["price"] = [1, 7, 9, 3]
        spec = PatternSpec(
            steps=(
                Step("e1", "is_a"),
                Step("e2", "is_b", 2, 2, agg_emit=(("sum", "price"),)),
                Step("e3", "is_c"),
            )
        )
        out = match_pattern_batch(spark.createDataFrame(ev), spec).toPandas()
        assert len(out) == 1 and out.iloc[0]["e2_sum_price"] == 16
