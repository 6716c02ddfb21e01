"""Streaming semantics tests: micro-batch feeds, watermark-ordered NFA,
exactly-once sink, checkpoint resume.

Idiom ≙ reference AppRunner (``tests/common/mod.rs:31``): feed controlled
chunks, drain, compare exact rows against the batch (bounded) computation of
the same operator on the same input.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eventflux_engine_spark.cep import PatternSpec, Step, match_pattern_batch
from eventflux_engine_spark.cep.streaming import match_pattern_stream
from eventflux_engine_spark.datamodel import TRANSCRIPT_SCHEMA, transcripts_df
from eventflux_engine_spark.streaming import (
    ExactlyOnceParquetSink,
    chunked_feed,
    stream_from_dir,
)
from eventflux_engine_spark.streaming import pipelines as P

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir():
    d = f"/tmp/efs_test_{uuid.uuid4().hex[:8]}"
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _flagged(df):
    return df.withColumn("is_user", F.col("role") == "user").withColumn(
        "is_assistant", F.col("role") == "assistant"
    )


@pytest.fixture()
def fed_transcripts(spark, tmpdir):
    """Transcripts + a far-future sentinel row, fed as 4 event-time-ordered
    chunks (sentinel last, to push the watermark past all real data)."""
    t = transcripts_df(spark, SF)
    import datetime

    sentinel = spark.createDataFrame(
        [("__sentinel__", 0, "user", "", "", datetime.datetime(2024, 6, 1))],
        schema=t.schema,
    )
    feed_dir = os.path.join(tmpdir, "feed")
    chunked_feed(t.unionByName(sentinel), feed_dir, 4, ["ts", "conv_id", "turn_idx"])
    return t, feed_dir


def _run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def _sorted_pdf(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            s = pd.to_datetime(pdf[c])
            pdf[c] = s.dt.tz_localize(None) if s.dt.tz is not None else s
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


class TestWindowedStreams:
    def test_tumbling_stream_matches_batch(self, spark, fed_transcripts):
        t, feed_dir = fed_transcripts
        stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
        aggs = [F.count(F.lit(1)).alias("turns")]
        out = P.tumbling_stream(stream, "5 minutes", ["conv_id"], aggs)
        name = _run_to_memory(out, "tumbling_out")
        got = (
            spark.sql(f"SELECT conv_id, turns, window_start FROM {name}")
            .filter(F.col("conv_id") != "__sentinel__")
            .toPandas()
        )
        want = (
            t.groupBy(F.window("ts", "5 minutes").alias("w"), "conv_id")
            .agg(*aggs)
            .select("conv_id", "turns", F.col("w.start").alias("window_start"))
            .toPandas()
        )
        pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))

    def test_session_stream_matches_batch(self, spark, fed_transcripts):
        t, feed_dir = fed_transcripts
        stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
        aggs = [F.count(F.lit(1)).alias("n_turns")]
        out = P.session_stream(stream, "30 minutes", ["conv_id"], aggs)
        name = _run_to_memory(out, "session_out")
        got = (
            spark.sql(f"SELECT conv_id, n_turns, session_start FROM {name}")
            .filter(F.col("conv_id") != "__sentinel__")
            .toPandas()
        )
        want = (
            t.groupBy(F.session_window("ts", "30 minutes").alias("w"), "conv_id")
            .agg(*aggs)
            .select("conv_id", "n_turns", F.col("w.start").alias("session_start"))
            .toPandas()
        )
        pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))


class TestStreamingNFA:
    def test_pattern_stream_matches_batch(self, spark, fed_transcripts):
        t, feed_dir = fed_transcripts
        spec = PatternSpec(
            steps=(Step("e1", "is_user"), Step("e2", "is_assistant")),
            within=pd.Timedelta(hours=12),
        )
        stream = _flagged(stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA))
        out = match_pattern_stream(stream, spec, watermark_delay="10 minutes")
        name = _run_to_memory(out, "nfa_out")
        got = (
            spark.sql(f"SELECT * FROM {name}")
            .filter(F.col("conv_id") != "__sentinel__")
            .toPandas()
        )
        want = match_pattern_batch(_flagged(t), spec).toPandas()
        pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))


class TestExactlyOnceSink:
    def test_idempotent_epoch_replay(self, spark, tmpdir):
        t = transcripts_df(spark, SF).limit(100)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        sink.write_batch(t, 0)
        sink.write_batch(t, 0)  # at-least-once replay of the same epoch
        sink.write_batch(t, 1)
        assert sink.committed_epochs() == [0, 1]
        assert sink.read(spark).count() == 200  # one copy per epoch, no dups
        m = sink.metrics()
        assert m["epochs"] == 2 and m["total_rows"] == 200
        for c in sink.commits():
            assert c["partitions"] and sum(p["rows"] for p in c["partitions"]) == c["rows"]

    def test_lineage_matches_written_files(self, spark, tmpdir):
        """Commit-marker lineage is derived from the WRITTEN parquet footers
        (post-write), so it describes the committed data exactly and the
        batch plan executes once (no pre-write counting action)."""
        t = transcripts_df(spark, SF).limit(64).repartition(4)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        sink.write_batch(t, 0)
        (c,) = sink.commits()
        epoch_dir = os.path.join(tmpdir, "table/data/epoch=0")
        files = sorted(f for f in os.listdir(epoch_dir) if f.endswith(".parquet"))
        assert [p["file"] for p in c["partitions"]] == files
        assert c["rows"] == 64 and sum(p["rows"] for p in c["partitions"]) == 64
        # partition ids are contiguous over the .parquet files only — the
        # _SUCCESS/.crc directory entries must not create gaps (ADVICE r2)
        assert [p["partition_id"] for p in c["partitions"]] == list(range(len(files)))

    def test_dlq_quarantines_poison_rows(self, spark, tmpdir):
        """DLQ side channel (≙ dlq.rs:19-76): rows matching the condition are
        quarantined, not dropped — lineage conserves the batch."""
        t = transcripts_df(spark, SF).limit(100)
        poisoned = t.withColumn(
            "text", F.when(F.col("turn_idx") == 0, F.lit(None)).otherwise(F.col("text"))
        )
        n_bad = poisoned.filter(F.col("text").isNull()).count()
        assert n_bad > 0
        sink = ExactlyOnceParquetSink(
            os.path.join(tmpdir, "table"), dlq_condition="text IS NULL"
        )
        sink.write_batch(poisoned, 0)
        assert sink.read(spark).filter(F.col("text").isNull()).count() == 0
        assert sink.read(spark).count() == 100 - n_bad
        assert sink.read_dlq(spark).count() == n_bad
        (c,) = sink.commits()
        assert c["dlq_rows"] == n_bad
        assert c["rows"] + c["dlq_rows"] == 100  # conservation
        assert sink.metrics()["total_dlq_rows"] == n_bad

    def test_uncommitted_epoch_invisible(self, spark, tmpdir):
        t = transcripts_df(spark, SF).limit(50)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        sink.write_batch(t, 0)
        # crash between data write and commit: data dir exists, no marker
        t.write.mode("overwrite").parquet(os.path.join(tmpdir, "table/data/epoch=1"))
        assert sink.read(spark).count() == 50

    def test_streaming_foreach_batch_exactly_once(self, spark, tmpdir, fed_transcripts):
        t, feed_dir = fed_transcripts
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        n_expected = t.count() + 1  # + sentinel
        assert sink.read(spark).count() == n_expected
        assert len(sink.committed_epochs()) >= 2  # multiple micro-batches


class TestConnectorRegistry:
    def test_factory_roundtrip(self, spark, tmpdir, fed_transcripts):
        # ≙ reference add_source_factory/add_sink_factory + WITH auto-attach
        # (eventflux_app_runtime.rs auto_attach_from_sql_definitions)
        from eventflux_engine_spark.streaming import create_sink, create_source

        t, feed_dir = fed_transcripts
        schema_str = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in t.schema.fields
        )
        stream = create_source(
            "file", spark, {"path": feed_dir, "schema": schema_str}
        )
        fb = create_sink(
            "exactly_once_parquet", {"path": os.path.join(tmpdir, "table")}
        )
        q = (
            stream.writeStream.foreachBatch(fb)
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        assert sink.read(spark).count() == t.count() + 1  # + sentinel

    def test_user_registered_connector(self, spark):
        from eventflux_engine_spark.streaming import create_source, register_source

        register_source(
            "test_rows",
            lambda s, opts: s.range(int(opts["n"])).withColumnRenamed("id", "v"),
        )
        assert create_source("test_rows", spark, {"n": "5"}).count() == 5

    def test_unknown_connector_raises(self, spark):
        from eventflux_engine_spark.streaming import create_source

        with pytest.raises(KeyError, match="unknown source"):
            create_source("rabbitmq", spark, {})


class TestCheckpointResume:
    def test_resume_from_checkpoint_no_duplicates(self, spark, tmpdir):
        t = transcripts_df(spark, SF)
        feed_dir = os.path.join(tmpdir, "feed")
        chunks = chunked_feed(t, os.path.join(tmpdir, "staging"), 4, ["ts", "conv_id"])
        os.makedirs(feed_dir)
        # phase 1: first two chunks
        for c in chunks[:2]:
            shutil.copy(c, feed_dir)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        ckpt = os.path.join(tmpdir, "ckpt")

        def run():
            stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
            q = (
                stream.writeStream.foreachBatch(sink.foreach_batch())
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run()
        n_phase1 = sink.read(spark).count()
        assert n_phase1 > 0
        # phase 2: restart from the same checkpoint with two more chunks
        for c in chunks[2:]:
            shutil.copy(c, feed_dir)
        run()
        total = sink.read(spark).count()
        assert total == t.count()  # every row exactly once across restarts


class TestMergeUpsertSink:
    """Streaming twin of the stream-driven UPSERT (upsert_table_processor.rs
    via operators/dml.merge_upsert): epoch-versioned exactly-once MERGE."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "id int, label string, seq long")

    def test_epoch_merge_and_replay_idempotent(self, spark, tmpdir):
        from eventflux_engine_spark.streaming.sink import MergeUpsertParquetSink

        sink = MergeUpsertParquetSink(
            os.path.join(tmpdir, "t"), keys=["id"], order_col="seq"
        )
        b1 = self._mk(spark, [(1, "a", 0), (2, "b", 1), (1, "a2", 2)])
        sink.write_batch(b1, 0)
        sink.write_batch(b1, 0)  # at-least-once replay: must be a no-op
        state = {r["id"]: r["label"] for r in sink.read(spark).collect()}
        assert state == {1: "a2", 2: "b"}  # last writer in-batch wins
        b2 = self._mk(spark, [(2, "b2", 3), (3, "c", 4)])
        sink.write_batch(b2, 1)
        state = {r["id"]: r["label"] for r in sink.read(spark).collect()}
        assert state == {1: "a2", 2: "b2", 3: "c"}
        assert [c["version"] for c in sink.commits()] == [1, 2]

    def test_uncommitted_version_invisible(self, spark, tmpdir):
        from eventflux_engine_spark.streaming.sink import MergeUpsertParquetSink

        sink = MergeUpsertParquetSink(
            os.path.join(tmpdir, "t"), keys=["id"], order_col="seq"
        )
        sink.write_batch(self._mk(spark, [(1, "a", 0)]), 0)
        # crash after data write, before marker: orphan version dir
        self._mk(spark, [(9, "junk", 9)]).write.mode("overwrite").parquet(
            os.path.join(tmpdir, "t/data/version=2")
        )
        state = {r["id"]: r["label"] for r in sink.read(spark).collect()}
        assert state == {1: "a"}


class TestStreamingQuantifiedChain:
    def test_streaming_quantified_chain_matches_batch(self, spark, tmpdir):
        """Round-2 features flow through the SHARED transition core: a
        quantified step with collection aggregates and indexed access runs
        identically in the streaming executor (applyInPandasWithState) and
        the batch matcher."""
        import datetime

        base = datetime.datetime(2024, 1, 1)
        rows = []
        for conv in ("c1", "c2"):
            for i in range(8):
                role = "user" if i % 3 != 2 else "assistant"
                rows.append(
                    (conv, i, role, f"t{i}", "",
                     base + datetime.timedelta(minutes=5 * i))
                )
        sentinel = ("__sentinel__", 0, "user", "", "", datetime.datetime(2024, 6, 1))
        t = spark.createDataFrame(rows + [sentinel], schema=TRANSCRIPT_SCHEMA)
        feed_dir = os.path.join(tmpdir, "feed")
        chunked_feed(t, feed_dir, 4, ["ts", "conv_id", "turn_idx"])

        def flags(df):
            return _flagged(df).withColumn("tlen", F.length("text"))

        spec = PatternSpec(
            steps=(
                Step("e1", "is_user", min_count=2, max_count=2,
                     agg_emit=(("sum", "tlen"),),
                     index_emit=((0, "turn_idx"), ("last", "turn_idx"))),
                Step("e2", "is_assistant"),
            ),
            within=pd.Timedelta(hours=2),
        )
        stream = flags(stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA))
        out = match_pattern_stream(stream, spec, watermark_delay="10 minutes")
        name = _run_to_memory(out, "qchain_out")
        got = (
            spark.sql(f"SELECT * FROM {name}")
            .filter(F.col("conv_id") != "__sentinel__")
            .toPandas()
        )
        want = match_pattern_batch(
            flags(spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)), spec
        ).toPandas()
        assert len(want) > 0
        pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))


def test_log_sink_observes_epochs(spark, tmpdir, fed_transcripts, caplog):
    # ≙ reference LogSink: passthrough observer logging per-epoch counts
    import logging

    from eventflux_engine_spark.streaming import create_sink

    t, feed_dir = fed_transcripts
    fb = create_sink("log", {"logger": "efs.test.log", "prefix": "t "})
    stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
    with caplog.at_level(logging.INFO, logger="efs.test.log"):
        q = (
            stream.writeStream.foreachBatch(fb)
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    msgs = [r.message for r in caplog.records if r.name == "efs.test.log"]
    assert len(msgs) >= 2  # one line per micro-batch
    assert sum(int(m.split("rows=")[1]) for m in msgs) == t.count() + 1


class TestProcessingTimeWindow:
    def test_wall_clock_window_conserves_rows(self, spark, tmpdir, fed_transcripts):
        """time(d) wall-clock twin (processing-time window): every arriving
        row lands in exactly ONE wall-clock window — conservation and
        structure are asserted (boundaries are inherently non-deterministic;
        the deterministic fixture twin is the event-time restatement)."""
        t, feed_dir = fed_transcripts
        stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
        out = P.time_window_processing_stream(
            stream, "2 seconds", ["role"],
            [F.count(F.lit(1)).alias("n")],
        )
        # complete mode: windows keep updating as batches arrive; final
        # table holds every (window, role) bucket
        q = (
            out.writeStream.format("memory").queryName("proc_win")
            .outputMode("complete").start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql("SELECT role, n, window_start FROM proc_win").toPandas()
        assert got["n"].sum() == t.count() + 1  # + sentinel: nothing lost
        assert got["window_start"].notna().all()
        # per-role conservation too
        per_role = got.groupby("role")["n"].sum().to_dict()
        want = {r["role"]: r["cnt"] for r in
                t.groupBy("role").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        for role, cnt in want.items():
            assert per_role[role] >= cnt  # sentinel may share a role bucket


class TestRevisionPersistence:
    """Revision-pinned persist/restore (streaming/persistence.py ≙
    eventflux_manager.rs:487-529 persist_app/restore_app_revision) —
    transcribed from tests/app_runner_persistence.rs: persist at revision
    k, restore k (also from a fresh process), replay the tail with no
    duplicates and no loss."""

    def _run(self, spark, feed_dir, sink, ckpt):
        stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def test_persist_restore_replays_tail_exactly_once(self, spark, tmpdir):
        from eventflux_engine_spark.streaming.persistence import RevisionStore

        t = transcripts_df(spark, SF)
        chunks = chunked_feed(t, os.path.join(tmpdir, "staging"), 4, ["ts", "conv_id"])
        feed_dir = os.path.join(tmpdir, "feed")
        os.makedirs(feed_dir)
        table, ckpt = os.path.join(tmpdir, "table"), os.path.join(tmpdir, "ckpt")
        sink = ExactlyOnceParquetSink(table)

        # phase 1 (process A): two chunks, then persist -> revision
        for c in chunks[:2]:
            shutil.copy(c, feed_dir)
        self._run(spark, feed_dir, sink, ckpt)
        n_phase1 = sink.read(spark).count()
        assert 0 < n_phase1 < t.count()
        store = RevisionStore(os.path.join(tmpdir, "revs"), ckpt, {"out": sink})
        rev = store.persist()

        # phase 2: the tail arrives and commits past the revision
        for c in chunks[2:]:
            shutil.copy(c, feed_dir)
        self._run(spark, feed_dir, sink, ckpt)
        assert sink.read(spark).count() == t.count()

        # process B: FRESH handles on the same dirs (manager restart,
        # persist_shutdown_restore_state analog) — restore to the revision
        sink_b = ExactlyOnceParquetSink(table)
        store_b = RevisionStore(os.path.join(tmpdir, "revs"), ckpt, {"out": sink_b})
        store_b.restore_revision(rev)
        assert sink_b.read(spark).count() == n_phase1  # rolled back exactly

        # replay: the restarted query reprocesses ONLY the tail
        self._run(spark, feed_dir, sink_b, ckpt)
        assert sink_b.read(spark).count() == t.count()  # no dup, no loss
        # value-level check, not just counts
        assert (
            sink_b.read(spark)
            .groupBy("conv_id", "turn_idx")
            .count()
            .filter(F.col("count") > 1)
            .count()
            == 0
        )

    def test_restore_older_of_multiple_revisions(self, spark, tmpdir):
        from eventflux_engine_spark.streaming.persistence import RevisionStore

        t = transcripts_df(spark, SF)
        chunks = chunked_feed(t, os.path.join(tmpdir, "staging"), 3, ["ts", "conv_id"])
        feed_dir = os.path.join(tmpdir, "feed")
        os.makedirs(feed_dir)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        ckpt = os.path.join(tmpdir, "ckpt")
        store = RevisionStore(os.path.join(tmpdir, "revs"), ckpt, {"out": sink})

        counts = []
        revs = []
        for c in chunks:
            shutil.copy(c, feed_dir)
            self._run(spark, feed_dir, sink, ckpt)
            counts.append(sink.read(spark).count())
            revs.append(store.persist())
        assert counts[0] < counts[1] < counts[2]
        assert store.revisions() == revs

        store.restore_revision(revs[0])  # skip back TWO revisions
        assert sink.read(spark).count() == counts[0]
        self._run(spark, feed_dir, sink, ckpt)  # full tail replays
        assert sink.read(spark).count() == counts[2] == t.count()

    def test_restore_unknown_revision_raises(self, spark, tmpdir):
        from eventflux_engine_spark.streaming.persistence import RevisionStore

        store = RevisionStore(
            os.path.join(tmpdir, "revs"),
            os.path.join(tmpdir, "ckpt"),
            {"out": ExactlyOnceParquetSink(os.path.join(tmpdir, "t"))},
        )
        with pytest.raises(ValueError, match="unknown revision"):
            store.restore_revision("rev-99999")


class TestQueryMetricsListener:
    """Per-query latency/throughput/buffered trackers over Spark's
    StreamingQueryListener (streaming/metrics.py ≙ metrics.rs:21-126
    LatencyTracker/ThroughputTracker/BufferedEventsTracker)."""

    def test_listener_captures_per_query_rates(self, spark, tmpdir):
        import time

        from eventflux_engine_spark.streaming.metrics import QueryMetricsListener

        t = transcripts_df(spark, SF)
        feed_dir = os.path.join(tmpdir, "feed")
        chunked_feed(t, feed_dir, 3, ["ts", "conv_id"])
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        listener = QueryMetricsListener()
        spark.streams.addListener(listener)
        try:
            stream = stream_from_dir(spark, feed_dir, TRANSCRIPT_SCHEMA)
            q = (
                stream.writeStream.foreachBatch(sink.foreach_batch())
                .queryName("metrics_probe")
                .option(
                    "checkpointLocation", os.path.join(tmpdir, "ckpt")
                )
                .start()
            )
            q.processAllAvailable()
            q.stop()
            # listener delivery is async: wait for all batches to land
            for _ in range(100):
                try:
                    if (
                        listener.metrics("metrics_probe")["input_rows"]
                        >= t.count()
                    ):
                        break
                except KeyError:
                    pass
                time.sleep(0.1)
            m = listener.metrics("metrics_probe")
            assert m["input_rows"] == t.count()  # throughput totals conserve
            assert m["batches"] >= 3  # one per fed chunk
            assert m["avg_latency_ms"] and m["avg_latency_ms"] > 0
            assert m["latency_ms_max"] >= m["avg_latency_ms"]
            assert m["avg_processed_rows_per_sec"] > 0
            merged = listener.merged_metrics("metrics_probe", sink)
            # engine-side input == exactly-once committed output
            assert merged["sink"]["total_rows"] == m["input_rows"]
        finally:
            spark.streams.removeListener(listener)

    def test_two_queries_tracked_separately(self, spark, tmpdir):
        import time

        from eventflux_engine_spark.streaming.metrics import QueryMetricsListener

        t = transcripts_df(spark, SF).limit(60)
        feed_a = os.path.join(tmpdir, "fa")
        feed_b = os.path.join(tmpdir, "fb")
        chunked_feed(t, feed_a, 2, ["ts", "conv_id"])
        chunked_feed(t.limit(20), feed_b, 1, ["ts", "conv_id"])
        listener = QueryMetricsListener()
        spark.streams.addListener(listener)
        try:
            handles = []
            for name, feed in (("qa", feed_a), ("qb", feed_b)):
                s = stream_from_dir(spark, feed, TRANSCRIPT_SCHEMA)
                handles.append(
                    s.writeStream.format("memory").queryName(name).start()
                )
            for h in handles:
                h.processAllAvailable()
                h.stop()
            for _ in range(100):
                try:
                    if (
                        listener.metrics("qa")["input_rows"] >= 60
                        and listener.metrics("qb")["input_rows"] >= 20
                    ):
                        break
                except KeyError:
                    pass
                time.sleep(0.1)
            assert listener.metrics("qa")["input_rows"] == 60
            assert listener.metrics("qb")["input_rows"] == 20
            with pytest.raises(KeyError):
                listener.metrics("nosuch")
        finally:
            spark.streams.removeListener(listener)


class TestBackpressureStrategies:
    """Sink-side backpressure (streaming/backpressure.py ≙
    backpressure.rs:15-30 strategies, stream_junction.rs:144-152 selection).
    Block is Spark's own admission control (maxFilesPerTrigger — covered by
    the chunked-feed tests); Drop/Backoff/BlockWithTimeout/CircuitBreaker
    wrap the foreachBatch sink."""

    def test_drop_overflow_budget(self, spark, tmpdir):
        from eventflux_engine_spark.streaming.backpressure import DropOverflowSink

        t = transcripts_df(spark, SF).limit(90).withColumn(
            "__seq", F.col("turn_idx").cast("long")
        )
        feed_dir = os.path.join(tmpdir, "feed")
        chunked_feed(t, feed_dir, 3, ["ts", "conv_id"])
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        drop = DropOverflowSink(sink.foreach_batch(), budget=20)
        stream = spark.readStream.schema(t.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(feed_dir)
        q = stream.writeStream.foreachBatch(drop).option(
            "checkpointLocation", os.path.join(tmpdir, "ckpt")
        ).start()
        q.processAllAvailable()
        q.stop()
        m = drop.metrics()
        # each of the 3 epochs admits at most 20 rows; conservation holds
        assert sink.read(spark).count() == m["total_admitted_events"] <= 60
        assert m["total_admitted_events"] + m["total_dropped_events"] == 90
        for c in sink.commits():
            assert c["rows"] <= 20

    def test_exponential_backoff_retries_then_succeeds(self, spark):
        from eventflux_engine_spark.streaming.backpressure import BackoffSink

        calls, slept = [], []
        def flaky(df, epoch_id):
            calls.append(epoch_id)
            if len(calls) <= 3:
                raise RuntimeError("downstream full")

        bp = BackoffSink(flaky, base_delay_ms=10, max_delay_ms=40,
                         max_retries=5, sleeper=slept.append)
        df = spark.range(5)
        bp(df, 0)
        assert len(calls) == 4  # 3 failures + 1 success
        assert bp.delays_ms == [10, 20, 40]  # doubling, capped at max
        assert slept == [0.01, 0.02, 0.04]

    def test_backoff_exhaustion_reraises_or_drops(self, spark):
        from eventflux_engine_spark.streaming.backpressure import BackoffSink

        def always_fail(df, epoch_id):
            raise RuntimeError("down")

        df = spark.range(3)
        strict = BackoffSink(always_fail, max_retries=2, sleeper=lambda s: None)
        with pytest.raises(RuntimeError, match="down"):
            strict(df, 0)
        lossy = BackoffSink(always_fail, max_retries=2, sleeper=lambda s: None,
                            drop_on_timeout=True)
        lossy(df, 0)  # BlockWithTimeout: drop, don't fail the query
        assert lossy.total_timeout_events == 1

    def test_circuit_breaker_opens_and_recovers(self, spark):
        from eventflux_engine_spark.streaming.backpressure import CircuitBreakerSink

        now = [0.0]
        ok = [False]
        def flaky(df, epoch_id):
            if not ok[0]:
                raise RuntimeError("down")

        cb = CircuitBreakerSink(flaky, failure_threshold=2,
                                recovery_timeout_ms=500, clock=lambda: now[0])
        df = spark.range(1)
        for _ in range(2):  # two consecutive failures -> OPEN
            with pytest.raises(RuntimeError, match="down"):
                cb(df, 0)
        assert cb.state == "open"
        with pytest.raises(RuntimeError, match="circuit open"):
            cb(df, 1)  # fail fast, sink untouched
        assert cb.total_circuit_breaks == 1
        now[0] = 0.6  # past recovery timeout -> HALF-OPEN probe allowed
        assert cb.state == "half_open"
        ok[0] = True
        cb(df, 2)  # probe succeeds -> CLOSED
        assert cb.state == "closed" and cb.failures == 0


class TestStreamingDedup:
    def test_streaming_exact_dedup_first_arrival_keeplist(self, spark, tmpdir):
        """Feed 200 docs (60 unique normalized texts) in doc_id order as ONE
        single-partition file: first-arrival-wins must keep exactly the
        min-doc_id representative per fingerprint — the same keep-list the
        batch exact_dedup derives."""
        import datetime

        rows = [
            (
                i,
                datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
                f"Document body number {i % 60} with shared phrasing.",
            )
            for i in range(200)
        ]
        pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "text"])
        feed = os.path.join(tmpdir, "docfeed")
        os.makedirs(feed)
        pdf.to_parquet(
            os.path.join(feed, "part0.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        stream = stream_from_dir(
            spark, feed, "doc_id long, ts timestamp, text string"
        )
        out = P.exact_dedup_stream(stream)
        name = _run_to_memory(out, "dedup_stream_out")
        got = sorted(
            r.doc_id for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
        )
        assert got == list(range(60))


class TestSocketConnectors:
    """≙ reference WebSocket/TCP source+sink family over a loopback server
    (no broker in the sandbox; the line-stream transport is the real part,
    framing layers would wrap these factories)."""

    def test_socket_sink_delivers_all_partitions(self, spark):
        import json
        import socket as pysock
        import threading

        from eventflux_engine_spark.streaming import create_sink

        received: list[str] = []
        lock = threading.Lock()
        srv = pysock.socket(pysock.AF_INET, pysock.SOCK_STREAM)
        srv.setsockopt(pysock.SOL_SOCKET, pysock.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        port = srv.getsockname()[1]
        srv.listen(64)
        stop = threading.Event()

        def serve():
            srv.settimeout(0.2)
            while not stop.is_set():
                try:
                    conn, _ = srv.accept()
                except TimeoutError:
                    continue
                except OSError:
                    break
                with conn:
                    chunks = []
                    while True:
                        b = conn.recv(65536)
                        if not b:
                            break
                        chunks.append(b)
                with lock:
                    received.append(b"".join(chunks).decode())

        th = threading.Thread(target=serve, daemon=True)
        th.start()
        try:
            fb = create_sink("socket", {"port": str(port)})
            df = spark.range(100).withColumnRenamed("id", "v").repartition(4)
            fb(df, 0)
            import time as _t

            deadline = _t.time() + 10
            while _t.time() < deadline:
                with lock:
                    got = sorted(
                        json.loads(ln)["v"]
                        for blob in received
                        for ln in blob.splitlines()
                        if ln.strip()
                    )
                if len(got) == 100:
                    break
                _t.sleep(0.2)
            assert got == list(range(100))
            with lock:
                n_conns = len(received)
            assert n_conns >= 2  # per-partition connections, not one driver dump
        finally:
            stop.set()
            srv.close()
            th.join(timeout=3)

    def test_socket_source_reads_lines(self, spark):
        import socket as pysock
        import threading
        import time as _t

        from eventflux_engine_spark.streaming import create_source

        srv = pysock.socket(pysock.AF_INET, pysock.SOCK_STREAM)
        srv.setsockopt(pysock.SOL_SOCKET, pysock.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        port = srv.getsockname()[1]
        srv.listen(1)

        def feed():
            conn, _ = srv.accept()
            with conn:
                for i in range(20):
                    conn.sendall(f'{{"v": {i}}}\n'.encode())
                _t.sleep(5)

        th = threading.Thread(target=feed, daemon=True)
        th.start()
        stream = create_source(
            "socket", spark, {"port": str(port), "json_schema": "v int"}
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("sock_src_out")
            .outputMode("append")
            .start()
        )
        try:
            deadline = _t.time() + 20
            got: list[int] = []
            while _t.time() < deadline:
                got = [r.v for r in spark.sql("SELECT v FROM sock_src_out").collect()]
                if len(got) >= 20:
                    break
                _t.sleep(0.5)
            assert sorted(got) == list(range(20))
        finally:
            q.stop()
            srv.close()


class TestSinkCompaction:
    """compact(): fold committed epochs into one segment under the same
    atomic-marker protocol; reads stay correct mid-compaction, across
    further appends, and over repeated compactions."""

    def _feed_epochs(self, spark, sink, t, n_chunks, start=0):
        pdf = t.toPandas().sort_values(["ts", "conv_id", "turn_idx"])
        bounds = [round(i * len(pdf) / n_chunks) for i in range(n_chunks + 1)]
        for i in range(n_chunks):
            chunk = spark.createDataFrame(
                pdf.iloc[bounds[i]:bounds[i + 1]], schema=t.schema
            )
            sink.write_batch(chunk, start + i)

    def test_compaction_preserves_rows_and_survives_appends(self, spark, tmpdir):
        t = transcripts_df(spark, SF)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        self._feed_epochs(spark, sink, t.filter(F.col("turn_idx") < 4), 5)
        before = sink.read(spark)
        n_before = before.count()

        marker = sink.compact(spark)
        assert marker["rows"] == n_before
        assert marker["covers_epochs_through"] == 4
        after = sink.read(spark)
        assert after.count() == n_before
        assert after.exceptAll(before).count() == 0
        # physically consolidated: the segment is ONE file
        assert len(marker["partitions"]) == 1

        # appends after compaction land in epochs above the high-water mark
        tail = t.filter(F.col("turn_idx") >= 4)
        sink.write_batch(tail, 10)
        assert sink.read(spark).count() == t.count()

        # second compaction folds segment + tail epochs
        m2 = sink.compact(spark)
        assert m2["rows"] == t.count()
        assert sink.read(spark).count() == t.count()

    def test_compact_twice_without_new_epochs(self, spark, tmpdir):
        t = transcripts_df(spark, SF).limit(50)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        self._feed_epochs(spark, sink, t, 3)
        n = sink.read(spark).count()
        marker = sink.compact(spark)
        # nothing committed after the segment: the second call must not
        # rewrite the segment it would read from
        with pytest.raises(ValueError, match="nothing to compact"):
            sink.compact(spark)
        assert sink.committed_segments() == [marker]
        assert sink.read(spark).count() == n

    def test_crash_mid_compaction_is_invisible(self, spark, tmpdir):
        t = transcripts_df(spark, SF).limit(50)
        sink = ExactlyOnceParquetSink(os.path.join(tmpdir, "table"))
        self._feed_epochs(spark, sink, t, 3)
        n = sink.read(spark).count()
        # simulate a crash: segment data written, marker NEVER published
        seg_dir = os.path.join(sink.data_dir, "segment=99")
        sink.read(spark).coalesce(1).write.mode("overwrite").parquet(seg_dir)
        assert sink.read(spark).count() == n  # orphan dir never served
        assert sink.committed_segments() == []
