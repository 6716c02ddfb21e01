"""Parity: fused single-pass pipeline vs independently composed operators,
and the Arrow block kernels (fused, linear pattern, absent) on small Arrow
batches, null flags, null tools and empty input."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventflux_engine_spark.cep import PatternSpec, Step, match_pattern_batch
from eventflux_engine_spark.cep.batch import match_absent_batch, output_schema
from eventflux_engine_spark.cep.fused import OUT_SCHEMA, fused_transcript_pipeline
from eventflux_engine_spark.cep.nfa import run_nfa
from eventflux_engine_spark.datamodel import synth_transcripts_bucketed


@pytest.fixture(scope="module")
def flagged(spark):
    t = synth_transcripts_bucketed(spark, 100_000, 200, partitions=8)
    return t.withColumn("is_user", F.col("role") == "user").withColumn(
        "is_assistant", F.col("role") == "assistant"
    )


SPEC = PatternSpec(
    steps=(Step("e1", "is_user"), Step("e2", "is_assistant")),
    within=pd.Timedelta(minutes=30),
)
HOT_SCHEMA = "conv_id string, turn_idx int, role string, tool string, ts timestamp"


def composed_rollup(t):
    """The fused rollup's columns from the composed operators, as pandas."""
    return (
        t.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count(F.when(F.col("tool") != "", 1)).alias("tool_calls"),
        )
        .join(
            match_pattern_batch(t, SPEC)
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n_matches")),
            "conv_id",
            "left",
        )
        .join(
            t.groupBy(
                F.session_window(F.col("ts").cast("timestamp"), "30 minutes"),
                "conv_id",
            )
            .agg(F.lit(1))
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n_sessions")),
            "conv_id",
            "left",
        )
        .join(
            t.groupBy(F.window(F.col("ts").cast("timestamp"), "5 minutes"), "conv_id")
            .agg(F.lit(1))
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n_windows")),
            "conv_id",
            "left",
        )
        .fillna(0, ["n_matches"])
        .select("conv_id", "n_turns", "n_matches", "n_sessions", "n_windows", "tool_calls")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )


def test_fused_matches_composed_operators(spark, flagged):
    fused = fused_transcript_pipeline(flagged, SPEC, input_sorted=True).toPandas()
    fused = fused.sort_values("conv_id").reset_index(drop=True)
    composed = composed_rollup(flagged)
    pd.testing.assert_frame_equal(
        fused.astype({c: "int64" for c in fused.columns if c != "conv_id"}),
        composed.astype({c: "int64" for c in composed.columns if c != "conv_id"}),
    )


def test_input_sorted_parity_with_shuffled_path(spark, flagged):
    a = match_pattern_batch(flagged, SPEC, input_sorted=True).count()
    b = match_pattern_batch(flagged, SPEC).count()
    assert a == b and a > 0


def test_session_boundary_gap_matches_session_window(spark):
    """Boundary semantics, settled empirically (ADVICE r1 suggested >= —
    Spark itself refutes it): an event arriving EXACTLY gap after the
    previous one still MERGES into the session in F.session_window
    (inclusive bound), so the fused sessionizer's strict `gap > gap_s` is
    the correct parity rule. This test pins both engines to that behavior
    with an exact-1800s gap."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # c1: gaps 1799s then exactly 1800s — BOTH merge (inclusive bound)
        ("c1", 0, "user", "a", "", base),
        ("c1", 1, "assistant", "b", "", base + datetime.timedelta(seconds=1799)),
        ("c1", 2, "user", "c", "", base + datetime.timedelta(seconds=1799 + 1800)),
        # c2: gap 1801s (> gap) — new session
        ("c2", 0, "user", "d", "", base),
        ("c2", 1, "user", "e", "", base + datetime.timedelta(seconds=1801)),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    flagged = t.withColumn("is_user", F.col("role") == "user").withColumn(
        "is_assistant", F.col("role") == "assistant"
    )
    fused = (
        fused_transcript_pipeline(flagged, SPEC, session_gap_s=1800)
        .select("conv_id", "n_sessions")
        .toPandas()
        .set_index("conv_id")["n_sessions"]
        .to_dict()
    )
    native = (
        t.groupBy(F.session_window("ts", "30 minutes"), "conv_id")
        .agg(F.lit(1))
        .groupBy("conv_id")
        .count()
        .toPandas()
        .set_index("conv_id")["count"]
        .to_dict()
    )
    assert fused == {k: int(v) for k, v in native.items()}
    assert fused == {"c1": 1, "c2": 2}


def hot_transcripts(spark, hot_turns=1500):
    """Six conversations; ``c0`` has ``hot_turns`` turns, the rest 40-200.
    Gaps of 1-60 minutes give several sessions and windows per conversation."""
    rng = np.random.default_rng(7)
    frames = []
    for i, n in enumerate([hot_turns, *rng.integers(40, 200, 5)]):
        role = rng.choice(["user", "assistant", "tool"], n)
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": f"c{i}",
                    "turn_idx": np.arange(n, dtype="int32"),
                    "role": role,
                    "tool": np.where(role == "tool", "search", ""),
                    "ts": pd.Timestamp("2024-01-01")
                    + pd.to_timedelta(rng.integers(60, 3600, n).cumsum(), unit="s"),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    return spark.createDataFrame(pdf, HOT_SCHEMA).withColumns(
        {"is_user": F.col("role") == "user", "is_assistant": F.col("role") == "assistant"}
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_small_arrow_batches_keep_results(spark):
    """With 64-row Arrow batches one conversation spans 1,500 / 64 > 10
    batches; the three block kernels must give the results they give at the
    default batch size, and those must equal run_nfa and the composed
    operators."""
    t = hot_transcripts(spark)
    pdf = t.toPandas()

    def results():
        pattern = match_pattern_batch(t, SPEC).select("conv_id", "e1_turn_idx", "e2_turn_idx")
        absent = match_absent_batch(t, "is_user", "is_assistant", "20 minutes")
        return {
            "pattern": rows(pattern),
            "fused": fused_transcript_pipeline(t, SPEC)
            .toPandas()
            .sort_values("conv_id")
            .reset_index(drop=True),
            "absent": rows(absent),
        }

    default = results()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        small = results()
    finally:
        spark.conf.set(key, before)

    assert small["pattern"] == default["pattern"]
    assert small["absent"] == default["absent"] and small["absent"]
    pd.testing.assert_frame_equal(small["fused"], default["fused"])
    nfa = sorted(
        (r["conv_id"], r["e1_turn_idx"], r["e2_turn_idx"])
        for _, g in pdf.groupby("conv_id")
        for r in run_nfa(g, SPEC)[0]
    )
    assert small["pattern"] == nfa and nfa
    ints = {c: "int64" for c in small["fused"].columns if c != "conv_id"}
    pd.testing.assert_frame_equal(
        small["fused"].astype(ints), composed_rollup(t).astype(ints)
    )


class TestNullsAndEmptyInput:
    def test_null_step_flag_counts_as_not_set(self, spark):
        t = hot_transcripts(spark, hot_turns=100)
        nulled = t.withColumn(
            "is_user", F.when(F.col("turn_idx") % 5 != 0, F.col("is_user"))
        ).withColumn(
            "is_assistant", F.when(F.col("turn_idx") % 3 != 0, F.col("is_assistant"))
        )
        unset = nulled.fillna(False, ["is_user", "is_assistant"])
        ops = [
            lambda d: match_pattern_batch(d, SPEC),
            lambda d: match_absent_batch(d, "is_user", "is_assistant", "20 minutes"),
            lambda d: fused_transcript_pipeline(d, SPEC),
        ]
        for op in ops:
            assert rows(op(nulled)) == rows(op(unset))
            assert rows(op(nulled)) != rows(op(t))  # the nulls did change the input

    def test_null_tool_counts_as_a_tool_call(self, spark):
        t = hot_transcripts(spark, hot_turns=100).withColumn(
            "tool", F.when(F.col("role") != "tool", F.col("tool"))
        )
        got = {r["conv_id"]: r["tool_calls"] for r in fused_transcript_pipeline(t, SPEC).collect()}
        want = {
            r["conv_id"]: r["n"]
            for r in t.groupBy("conv_id")
            .agg(F.count(F.when(F.col("tool").isNull() | (F.col("tool") != ""), 1)).alias("n"))
            .collect()
        }
        assert got == want and all(want.values())

    def test_empty_input_gives_zero_rows_with_declared_schema(self, spark):
        t = hot_transcripts(spark).limit(0)
        absent_schema = T.StructType([t.schema[c] for c in ("conv_id", "turn_idx", "ts")])
        cases = [
            (match_pattern_batch(t, SPEC), output_schema(SPEC, t.schema)),
            (fused_transcript_pipeline(t, SPEC), spark.createDataFrame([], OUT_SCHEMA).schema),
            (match_absent_batch(t, "is_user", "is_assistant", "20 minutes"), absent_schema),
        ]
        for out, schema in cases:
            assert out.schema == schema
            assert out.collect() == []
