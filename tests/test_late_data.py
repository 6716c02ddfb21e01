"""Late/out-of-order data semantics for the streaming NFA.

FIXTURES.md watermark contract: rows later than event-time order but inside
the watermark delay must be processed EXACTLY as if they had arrived in
order (buffered ordered replay); rows beyond the delay are dropped by every
engine under test.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from eventflux_engine_spark.cep import PatternSpec, Step, match_pattern_batch
from eventflux_engine_spark.cep.batch import match_absent_batch
from eventflux_engine_spark.cep.streaming import match_absent_stream, match_pattern_stream
from eventflux_engine_spark.datamodel import synth_transcripts

SPEC = PatternSpec(
    steps=(Step("e1", "is_user"), Step("e2", "is_assistant")),
    within=pd.Timedelta(minutes=30),
)


@pytest.fixture()
def tmpdir():
    d = f"/tmp/efs_late_{uuid.uuid4().hex[:8]}"
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _flags(df):
    return df.withColumn("is_user", F.col("role") == "user").withColumn(
        "is_assistant", F.col("role") == "assistant"
    )


def _disordered_stream(spark, t, tmpdir, seed):
    """Stream ``t`` from a parquet feed in a disordered arrival order: each
    row arrives up to 25 minutes behind its event time. A row seen before
    another is then at most 25 minutes younger, so under the 30-minute
    watermark delay no row is ever late, wherever the chunk cuts fall. A
    far-future sentinel ends the feed and flushes every buffered group."""
    rng = np.random.default_rng(seed)
    jitter = pd.to_timedelta(rng.uniform(0, 25 * 60, len(t)), unit="s")
    arrival = t.assign(_at=t["ts"] + jitter).sort_values("_at").drop(columns="_at")
    sentinel = pd.DataFrame(
        [{
            "conv_id": "__sentinel__", "turn_idx": 0, "role": "user",
            "text": "", "tool": "", "ts": t["ts"].max() + pd.Timedelta(days=30),
        }]
    )
    n_chunks = 12  # ~5 h of event time each
    bounds = [round(i * len(arrival) / n_chunks) for i in range(n_chunks + 1)]
    chunks = [arrival.iloc[a:b] for a, b in zip(bounds, bounds[1:])] + [sentinel]

    feed = os.path.join(tmpdir, "feed")
    os.makedirs(feed)
    for i, c in enumerate(chunks):
        c = c.assign(turn_idx=c["turn_idx"].astype("int32"))
        c.to_parquet(
            os.path.join(feed, f"c{i:03d}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    schema = spark.createDataFrame(t).schema
    return _flags(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    )


def test_out_of_order_within_watermark_matches_batch(spark, tmpdir):
    """Any arrival order within the watermark delay gives the pattern
    matcher the in-order (batch) result, for each of seeds 0-2."""
    t = synth_transcripts(spark, 2000, 64).toPandas()
    want = match_pattern_batch(_flags(spark.createDataFrame(t)), SPEC).toPandas()
    assert len(want) > 0
    cols = sorted(want.columns)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    for seed in (0, 1, 2):
        feed_dir = os.path.join(tmpdir, f"seed{seed}")
        os.makedirs(feed_dir)
        stream = _disordered_stream(spark, t, feed_dir, seed)
        out = match_pattern_stream(stream, SPEC, watermark_delay="30 minutes")
        name = f"late_out_{seed}"
        q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        got = (
            spark.sql(f"SELECT * FROM {name}")
            .filter(F.col("conv_id") != "__sentinel__")
            .toPandas()
        )
        assert sorted(got.columns) == cols
        pd.testing.assert_frame_equal(
            got[cols].sort_values(cols).reset_index(drop=True), want,
            obj=f"seed {seed}",
        )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_absent_out_of_order_within_watermark_matches_batch(spark, tmpdir, seed):
    """PECJ's disorder property for the live absent matcher: any arrival
    order within the watermark delay gives the in-order (batch) result."""
    t = synth_transcripts(spark, 2000, 64).toPandas()
    stream = _disordered_stream(spark, t, tmpdir, seed)
    out = match_absent_stream(
        stream, "is_user", "is_assistant", "20 minutes", watermark_delay="30 minutes"
    )
    name = f"absent_late_{seed}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    got = spark.sql(f"SELECT * FROM {name}").filter(F.col("conv_id") != "__sentinel__")
    want = match_absent_batch(_flags(spark.createDataFrame(t)), "is_user", "is_assistant", "20 minutes")
    cols = ["conv_id", "turn_idx", "ts"]
    got, want = (
        df.toPandas()[cols].sort_values(cols).reset_index(drop=True) for df in (got, want)
    )
    assert 0 < len(want) < (t["role"] == "user").sum()
    pd.testing.assert_frame_equal(got, want)


def test_too_late_rows_are_dropped(spark, tmpdir):
    t = synth_transcripts(spark, 1000, 32).toPandas()
    t = t.sort_values(["ts", "conv_id", "turn_idx"]).reset_index(drop=True)

    # one event withheld until after the watermark has passed it by far:
    # ship it in the last chunk after a sentinel already advanced the clock
    victim = t.iloc[[len(t) // 3]]
    rest = t.drop(victim.index)
    half = len(rest) // 2
    sentinel = pd.DataFrame(
        [{
            "conv_id": "__sentinel__", "turn_idx": 0, "role": "user",
            "text": "", "tool": "", "ts": t["ts"].max() + pd.Timedelta(days=30),
        }]
    )
    chunks = [rest.iloc[:half], rest.iloc[half:], sentinel, victim]

    feed = os.path.join(tmpdir, "feed")
    os.makedirs(feed)
    for i, c in enumerate(chunks):
        c = c.assign(turn_idx=c["turn_idx"].astype("int32"))
        c.to_parquet(
            os.path.join(feed, f"c{i:03d}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    schema = spark.createDataFrame(t).schema
    stream = _flags(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    out = match_pattern_stream(stream, SPEC, watermark_delay="30 minutes")
    q = out.writeStream.format("memory").queryName("drop_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM drop_out")
        .filter(F.col("conv_id") != "__sentinel__")
        .toPandas()
    )
    # semantics: identical to a batch run over the data WITHOUT the too-late
    # row (it must be dropped, not applied retroactively)
    want = match_pattern_batch(_flags(spark.createDataFrame(rest)), SPEC).toPandas()
    cols = sorted(got.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
    )
