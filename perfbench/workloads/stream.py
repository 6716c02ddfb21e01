"""The live-stream phase: an open loop into three live queries.

A separate generator process (``perfbench/generator.py``) publishes one
seeded parquet chunk into a watched directory every ``generator.INTERVAL_S``
seconds, whether or not the engine keeps up. ``match_pattern_stream``,
``session_stream`` and ``tumbling_stream`` each read the directory and feed
an ``ExactlyOnceParquetSink``. A chunk's latency runs from its due time to
the moment the epoch that read it has committed in all three sinks.

Only this phase exercises JSON group state, the state store, no-data
micro-batches and sink commits. Its latency moves by about a quarter from
run to run within the time a run may take on the 4-core reference box, so
it runs inside the traced ``registry`` run and reports per-layer numbers
only (perfbench/README.md).
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

import pandas as pd
from pyspark.sql import functions as F

from eventflux_engine_spark.cep import PatternSpec, Step, match_pattern_batch
from eventflux_engine_spark.cep.streaming import match_pattern_stream
from eventflux_engine_spark.datamodel import TRANSCRIPT_SCHEMA
from eventflux_engine_spark.streaming import ExactlyOnceParquetSink, stream_from_dir
from eventflux_engine_spark.streaming import pipelines as P

from .. import common, generator

WATERMARK = "2 minutes"
SESSION_GAP = "5 minutes"
TUMBLE = "1 minute"
SPEC = PatternSpec(
    steps=(Step("e1", "is_user"), Step("e2", "is_assistant")),
    within=pd.Timedelta(minutes=5),
)
QUERIES = ("pattern", "session", "tumbling")
#: a chunk not committed this long after the last chunk was due is a failure
DRAIN_S = 30.0
#: the sentinel's final flush must land within this long
FLUSH_S = 60.0


def _flagged(df):
    return df.withColumn("is_user", F.col("role") == "user").withColumn(
        "is_assistant", F.col("role") == "assistant"
    )


def _aggs():
    return [
        F.count(F.lit(1)).alias("turns"),
        F.count(F.when(F.col("tool") != "", 1)).alias("tool_calls"),
    ]


def _stream_plans(df):
    """The three live queries over one streaming source."""
    return {
        "pattern": match_pattern_stream(_flagged(df), SPEC, watermark_delay=WATERMARK),
        "session": P.session_stream(df, SESSION_GAP, ["conv_id"], _aggs(), watermark=WATERMARK),
        "tumbling": P.tumbling_stream(df, TUMBLE, ["conv_id"], _aggs(), watermark=WATERMARK),
    }


def _batch_plans(df):
    """The same three computations as batch operators."""
    ts = F.col("ts").cast("timestamp")
    return {
        "pattern": match_pattern_batch(_flagged(df), SPEC),
        "session": df.groupBy(F.session_window(ts, SESSION_GAP).alias("w"), "conv_id")
        .agg(*_aggs())
        .withColumn("session_start", F.col("w.start"))
        .withColumn("session_end", F.col("w.end"))
        .drop("w"),
        "tumbling": df.groupBy(F.window(ts, TUMBLE).alias("w"), "conv_id")
        .agg(*_aggs())
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w"),
    }


def _canonical(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(map(str, r)) for r in df.select(*[F.col(c).cast("string") for c in cols]).collect())


def _batch_of_file(ckpt: str) -> dict[str, int]:
    """Chunk file name -> micro-batch id, from the file source's own log."""
    out: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(src):
        return out
    for f in os.listdir(src):
        if not f.isdigit():
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _iso_s(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class LiveStream:
    """Start, warm up, measure and check the open loop, in one session."""

    LAYER_UNITS = {
        "streaming.latency_p50_ms": "ms",
        "streaming.latency_p90_ms": "ms",
        "streaming.rows_per_s": "1/s",
        "streaming.chunks_failed": "count",
        **{f"streaming.{q}.trigger_ms_p50": "ms" for q in QUERIES},
        "streaming.add_batch_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.batches": "count",
        "streaming.nodata_batches": "count",
        "streaming.source_lag_s_p90": "s",
        "state.rows_total": "count",
        "state.memory_mb": "MB",
        "state.commit_ms": "ms",
        "state.update_ms": "ms",
        "sink.write_s_p50": "s",
        "generator.late_ms_max": "ms",
    }

    def __init__(self, spark, seed: int, work: str, seconds: float):
        self.spark = spark
        self.root = os.path.join(work, "stream")
        self.feed = os.path.join(self.root, "feed")
        self.log_path = os.path.join(self.root, "generator.json")
        os.makedirs(self.feed, exist_ok=True)
        self.n_chunks = max(1, round(seconds / generator.INTERVAL_S))
        self.queries: dict = {}
        self.gen = subprocess.Popen(
            [sys.executable, generator.__file__, "--seed", str(seed), "--out", self.feed,
             "--log", self.log_path, "--chunks", str(self.n_chunks)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def run(self) -> tuple[int, int]:
        """The whole phase: (passed, failed) over chunks and output checks."""
        src = stream_from_dir(self.spark, self.feed, TRANSCRIPT_SCHEMA, max_files_per_trigger=100_000)
        self.sinks, self.ckpts = {}, {}
        for name, plan in _stream_plans(src).items():
            self.sinks[name] = ExactlyOnceParquetSink(os.path.join(self.root, "sink", name))
            self.ckpts[name] = os.path.join(self.root, "ckpt", name)
            self.queries[name] = (
                plan.writeStream.queryName(name)
                .outputMode("append")
                .option("checkpointLocation", self.ckpts[name])
                .foreachBatch(self.sinks[name].foreach_batch())
                .start()
            )
        self._warmup()
        attempted, failed = self._measure()
        ok, bad = self._check()
        return attempted - failed + ok, failed + bad

    def _send(self, command: str, reply: str) -> None:
        if command:
            self.gen.stdin.write(command + "\n")
            self.gen.stdin.flush()
        line = self.gen.stdout.readline().strip()
        if line != reply:
            raise RuntimeError(f"generator said {line!r}, expected {reply!r}")

    def close(self) -> None:
        for q in self.queries.values():
            try:
                q.stop()
            except Exception as exc:  # a query that already failed
                print(f"live stream stop: {exc!r}", file=sys.stderr)
        self.queries = {}
        if self.gen.poll() is None:
            self.gen.kill()
        self.gen.wait()
        self.gen.stdin.close()
        self.gen.stdout.close()

    def _commit_times(self, chunk_names: list[str]) -> dict[str, float]:
        """Chunk -> latest commit time of its epoch over the three sinks, for
        chunks committed everywhere."""
        per_query = []
        for name in QUERIES:
            batch_of = _batch_of_file(self.ckpts[name])
            commits = {c["epoch_id"]: c["committed_at"] for c in self.sinks[name].commits()}
            per_query.append({n: commits[batch_of[n]] for n in chunk_names
                              if n in batch_of and batch_of[n] in commits})
        return {n: max(q[n] for q in per_query) for n in chunk_names
                if all(n in q for q in per_query)}

    def _wait_committed(self, names: list[str], deadline: float) -> dict[str, float]:
        while True:
            done = self._commit_times(names)
            if len(done) == len(names) or time.time() > deadline:
                return done
            for q in self.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"query {q.name} failed: {q.exception()}")
            time.sleep(0.05)

    def _warmup(self) -> None:
        self._send("", "ready")
        self._send("warm", "warmed")
        names = [f"chunk_{i:05d}.parquet" for i in range(generator.WARM_CHUNKS)]
        done = self._wait_committed(names, time.time() + FLUSH_S)
        if len(done) != len(names):
            raise RuntimeError("warm-up chunks were not committed")

    def _measure(self) -> tuple[int, int]:
        """Publish on schedule; latency of every chunk committed in time."""
        self._send("go", "done")
        with open(self.log_path) as f:
            self.chunks = [c for c in json.load(f)["chunks"] if not c["warm"]]
        timed = [c for c in self.chunks if not c["sentinel"]]
        names = [c["name"] for c in timed]
        committed = self._wait_committed(names, timed[-1]["due"] + DRAIN_S)
        if not committed:
            raise RuntimeError("no chunk was committed")
        self.committed = committed
        self.latency_ms = [(committed[c["name"]] - c["due"]) * 1000.0 for c in timed if c["name"] in committed]
        self.rows_per_s = sum(c["rows"] for c in timed if c["name"] in committed) / (
            max(committed.values()) - timed[0]["due"])
        return len(timed), len(timed) - len(committed)

    def _flushed(self, threshold_s: float) -> bool:
        for q in self.queries.values():
            p = q.lastProgress
            wm = (p or {}).get("eventTime", {}).get("watermark")
            if wm is None or _iso_s(wm) < threshold_s:
                return False
        return True

    def _check(self) -> tuple[int, int]:
        """Each sink holds exactly what the batch operators compute over the
        same published events, and every micro-batch committed once."""
        far = generator.sentinel_ts_s(generator.WARM_CHUNKS + self.n_chunks)
        threshold = far - pd.Timedelta(WATERMARK).total_seconds()
        deadline = time.time() + FLUSH_S
        while not self._flushed(threshold) and time.time() < deadline:
            time.sleep(0.1)
        # progress is posted after the batch's sink commit, so the flush
        # batch's output is on disk once it shows the new watermark
        self.progress = {n: list(q.recentProgress) for n, q in self.queries.items()}
        if not self._flushed(threshold):
            print("live stream: final flush did not land", file=sys.stderr)
            return 0, len(QUERIES)
        events = self.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(self.feed).filter(
            F.col("conv_id") != generator.SENTINEL_CONV
        )
        want = _batch_plans(events)
        ok = bad = 0
        for name in QUERIES:
            sink = self.sinks[name]
            got = sink.read(self.spark).filter(F.col("conv_id") != generator.SENTINEL_CONV)
            epochs = sink.committed_epochs()
            ran = {p["batchId"] for p in self.progress[name]}
            good = (
                len(epochs) == len(set(epochs))
                and ran <= set(epochs)
                and _canonical(got) == _canonical(want[name])
            )
            ok, bad = ok + good, bad + (not good)
            if not good:
                print(f"live stream mismatch: {name}", file=sys.stderr)
        return ok, bad

    def layers(self) -> dict[str, float]:
        first_due = self.chunks[0]["due"]
        last_commit = max(self.committed.values())
        out = {
            "streaming.latency_p50_ms": common.percentile(self.latency_ms, 50),
            "streaming.latency_p90_ms": common.percentile(self.latency_ms, 90),
            "streaming.rows_per_s": self.rows_per_s,
            "streaming.chunks_failed": float(self.n_chunks - len(self.committed)),
        }
        timed: list[dict] = []
        for name in QUERIES:
            prog = [p for p in self.progress[name]
                    if first_due <= _iso_s(p["timestamp"]) <= last_commit]
            data = [p for p in prog if p.get("numInputRows", 0) > 0]
            out[f"streaming.{name}.trigger_ms_p50"] = common.percentile(
                [p["durationMs"]["triggerExecution"] for p in data] or [0.0], 50)
            timed.extend(prog)
        data = [p for p in timed if p.get("numInputRows", 0) > 0]

        def dur(key: str) -> float:
            return common.percentile([p["durationMs"].get(key, 0) for p in data] or [0.0], 50)

        def state(p: dict, key: str) -> float:
            return float(sum(op.get(key, 0) for op in p.get("stateOperators", [])))

        lags = []
        for name in QUERIES:
            batch_of = _batch_of_file(self.ckpts[name])
            start = {p["batchId"]: _iso_s(p["timestamp"]) for p in self.progress[name]}
            lags += [start[batch_of[c["name"]]] - c["published"] for c in self.chunks
                     if c["name"] in batch_of and batch_of[c["name"]] in start]
        writes = [c["duration_s"] for s in self.sinks.values() for c in s.commits()]
        out.update(
            {
                "streaming.add_batch_ms": dur("addBatch"),
                "streaming.query_planning_ms": dur("queryPlanning"),
                "streaming.wal_commit_ms": dur("walCommit"),
                "streaming.batches": float(len(data)),
                "streaming.nodata_batches": float(len(timed) - len(data)),
                "streaming.source_lag_s_p90": common.percentile(lags or [0.0], 90),
                "state.rows_total": max((state(p, "numRowsTotal") for p in timed), default=0.0),
                "state.memory_mb": max((state(p, "memoryUsedBytes") for p in timed), default=0.0) / 2**20,
                "state.commit_ms": common.percentile([state(p, "commitTimeMs") for p in data] or [0.0], 50),
                "state.update_ms": common.percentile([state(p, "allUpdatesTimeMs") for p in data] or [0.0], 50),
                "sink.write_s_p50": common.percentile(writes or [0.0], 50),
                "generator.late_ms_max": max((c["published"] - c["due"]) * 1000.0 for c in self.chunks),
            }
        )
        return out
