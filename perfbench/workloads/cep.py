"""``cep_batch``: the three CEP jobs over seeded synthetic transcripts.

- ``fused``: ``fused_transcript_pipeline`` over bucketed input with
  ``input_sorted=True`` (no shuffle);
- ``pattern_skew``: ``match_pattern_batch`` over a stream where 30% of the
  turns sit in one conversation (exchange plus the hot-key carry loop);
- ``composed``: pattern + ``session_window`` + tumbling counts over the
  same bucketed input as ``fused``, through the exchange.

The linear NFA kernel, its carry loop and the exchange do nearly all the
work; registry build and streaming state do none.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

from eventflux_engine_spark.cep import PatternSpec, Step, match_pattern_batch
from eventflux_engine_spark.cep.fused import fused_transcript_pipeline
from eventflux_engine_spark.datamodel import synth_transcripts, synth_transcripts_bucketed
from eventflux_engine_spark.session import default_parallelism

from .. import common, trace
from . import Measurement, Workload, timed_passes

#: turns per job per pass: at this size the work that grows with the input
#: is about half of a pass on the 4-core reference box (perfbench/README.md)
TURNS = 1_000_000
TURNS_PER_CONV = 200
SPEC = PatternSpec(
    steps=(Step("e1", "is_user"), Step("e2", "is_assistant")),
    within=pd.Timedelta(minutes=30),
)
JOBS = ("fused", "pattern_skew", "composed")


def _flagged(df):
    return df.withColumn("is_user", F.col("role") == "user").withColumn(
        "is_assistant", F.col("role") == "assistant"
    )


class CepBatch(Workload):
    NAME = "cep_batch"
    LAYER_UNITS = {
        "cep.fused_s": "s",
        "cep.pattern_skew_s": "s",
        "cep.composed_s": "s",
        "cep.rows_in": "count",
        "cep.rows_flagged": "count",
        "cep.matches": "count",
        "cep.keys": "count",
        "cep.task_skew": "ratio",
        "cep.single_thread_turns_per_s": "1/s",
        "cep.scaling_efficiency": "ratio",
    }

    def stage(self, spark, spans) -> None:
        super().stage(spark, spans)
        self.parts = default_parallelism() * 4
        # the seed moves conversation boundaries and the key count a little,
        # never the amount of work by more than a fraction of a percent
        self.n_bucketed = TURNS - TURNS % (self.parts * TURNS_PER_CONV)
        self.n_skew = TURNS + self.seed % 997
        self.n_convs = TURNS // TURNS_PER_CONV + self.seed % 13
        self.outputs: list[dict] = []
        self.single_tps = 0.0

    # -- the three jobs ---------------------------------------------------------

    def _bucketed(self):
        return _flagged(
            synth_transcripts_bucketed(
                self.spark, self.n_bucketed, TURNS_PER_CONV, partitions=self.parts
            )
        )

    def _skewed(self):
        return _flagged(
            synth_transcripts(
                self.spark, self.n_skew, self.n_convs, hot_conv_pct=30,
                partitions=self.parts,
            )
        )

    def _fused(self) -> dict:
        out = fused_transcript_pipeline(self._bucketed(), SPEC, input_sorted=True)
        row = out.agg(
            F.count(F.lit(1)).alias("keys"),
            *[F.sum(c).alias(c) for c in ("n_turns", "n_matches", "n_sessions", "n_windows")],
        ).collect()[0]
        return row.asDict()

    def _pattern_skew(self) -> dict:
        n = match_pattern_batch(self._skewed(), SPEC).groupBy().count().collect()[0][0]
        return {"matches": n}

    def _composed(self) -> dict:
        t = self._bucketed()
        ts = F.col("ts").cast("timestamp")
        return {
            "n_matches": match_pattern_batch(t, SPEC).count(),
            "n_sessions": t.groupBy(F.session_window(ts, "30 minutes"), "conv_id").count().count(),
            "n_windows": t.groupBy(F.window(ts, "5 minutes"), "conv_id").count().count(),
        }

    def _pass(self, phase: str = "exec") -> list[float]:
        out, lat = {}, []
        for job in JOBS:
            out[job] = self.spans.run(job, phase, getattr(self, "_" + job))
            lat.append(self.spans.records[-1]["net_s"] * 1000.0)
        self.outputs.append(out)
        return lat

    def warmup(self) -> None:
        # after one warm-up pass the next still ran 15-20% slower than later
        # ones
        for _ in range(2):
            self._pass("warmup")

    def measure(self, seconds: float) -> Measurement:
        return timed_passes(seconds, len(JOBS), self.n_bucketed * 2 + self.n_skew, self._pass)

    def check(self) -> tuple[int, int]:
        """Fused rollup equals the composed operators on the same input;
        the skewed pattern count equals the fused kernel's count over the
        same skewed input taken through its own exchange path.

        With tracing, the skewed job also runs once more with adaptive
        execution's partition coalescing off, so that ``cep.task_skew``
        sees the hot conversation's partition as its own task (coalescing
        packs the post-exchange stage into a single task)."""
        ref = fused_transcript_pipeline(self._skewed(), SPEC).agg(F.sum("n_matches")).collect()[0][0]
        ok = bad = 0
        if self.trace:
            key = "spark.sql.adaptive.coalescePartitions.enabled"
            before = self.spark.conf.get(key)
            self.spark.conf.set(key, "false")
            try:
                got = self.spans.run("pattern_skew", "uncoalesced", self._pattern_skew)
            finally:
                self.spark.conf.set(key, before)
            good = got["matches"] == ref
            ok, bad = ok + good, bad + (not good)
        for out in self.outputs:
            fused, comp = out["fused"], out["composed"]
            good = (
                fused["n_turns"] == self.n_bucketed
                and all(fused[k] == comp[k] for k in ("n_matches", "n_sessions", "n_windows"))
                and fused["n_matches"] > 0
                and out["pattern_skew"]["matches"] == ref
            )
            ok, bad = ok + good, bad + (not good)
            if not good:
                print(f"cep_batch mismatch: {out} skew_ref={ref}", file=sys.stderr)
        return ok, bad

    def after_stop(self, trace_on: bool) -> None:
        """With tracing, the single-thread baseline: the same workload and
        seed at local[1] in its own process."""
        if not trace_on:
            return
        cmd = [sys.executable, os.path.join(common.ROOT, "perfbench", "run.py"),
               "--workload", self.NAME, "--seed", str(self.seed), "--seconds", "1",
               "--trace", "0", "--cores", "1"]
        try:
            # about 70 s on the reference box; the limit keeps the traced run
            # inside the three minutes a run may take
            res = subprocess.run(cmd, capture_output=True, text=True, timeout=90, cwd=common.ROOT)
        except subprocess.TimeoutExpired:
            print("single-thread baseline timed out; scaling metrics read 0", file=sys.stderr)
            return
        line = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else "{}"
        self.single_tps = json.loads(line).get("metrics", {}).get("items_per_s", {}).get("value", 0.0)

    def layers(self, groups: dict, m: Measurement) -> dict[str, float]:
        n = len(m.pass_s)
        timed = trace.merge(groups, lambda d: d.startswith(f"{self.NAME}:") and d.endswith(":exec"))
        out = {k: v / n for k, v in trace.spark_metrics(timed).items()}
        spans = [r for r in self.spans.records if r["phase"] == "exec"]
        for job in JOBS:
            out[f"cep.{job}_s"] = common.median([r["net_s"] for r in spans if r["job"] == job])
        pattern = trace.merge(
            groups, lambda d: d in (f"{self.NAME}:pattern_skew:exec", f"{self.NAME}:composed:exec")
        )
        skew = trace.merge(groups, lambda d: d == f"{self.NAME}:pattern_skew:uncoalesced")
        last = self.outputs[-1]
        out.update(
            {
                "cep.rows_in": float(self.n_bucketed * 2 + self.n_skew),
                "cep.rows_flagged": pattern.nodes.get(("Filter", "number of output rows"), 0.0) / n,
                "cep.matches": float(last["fused"]["n_matches"] + last["pattern_skew"]["matches"]
                                     + last["composed"]["n_matches"]),
                "cep.keys": float(last["fused"]["keys"]),
                "cep.task_skew": trace.task_skew(skew),
            }
        )
        if self.single_tps:
            cores = default_parallelism()
            out["cep.single_thread_turns_per_s"] = self.single_tps
            out["cep.scaling_efficiency"] = m.items_per_s() / (cores * self.single_tps)
        return out
