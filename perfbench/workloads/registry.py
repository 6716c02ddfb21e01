"""``registry``: driver-side build and materialization.

Each pass builds and then collects one registry query per module group of
``bench.HEADLINE`` over a seeded ten-table data set. Query builders, their
``localCheckpoint`` sites and literal tables and the dedup/similarity/text/
multimodal layers do the work; the CEP kernel is a small share.

The first pass runs cold and the second warm, both as warm-up; the timed
passes run warm.

With tracing, two more layers are measured after the timed passes, in the
same session: the SQL front end (a multi-statement app with a tumbling
GROUP BY, a WHERE filter and ``EVERY (e1=S -> e2=S[v > e1.v])`` is compiled,
sent seeded events, run per target and streamed live for the pattern
target) and the live-stream phase (``stream.py``).
"""

from __future__ import annotations

import contextlib
import os
import random
import sys

from bench import HEADLINE
from eventflux_engine_spark.plans import QUERIES
from eventflux_engine_spark.sql import EventFluxApp
from eventflux_engine_spark.testing import duckdb_con

from .. import common, trace
from . import Measurement, Workload, timed_passes
from .stream import LiveStream

sys.path.insert(0, os.path.join(common.ROOT, "tools"))
import gen_testdata  # noqa: E402
from simulate_driver import value_hash  # noqa: E402

#: scale factor of the generated data set (ten tables, ~80k rows in all)
SF = 0.01

#: one HEADLINE query per module group, the cheaper ones, so that a cold pass
#: and two warm ones fit a run; the group names split the ``plans.*`` metrics
GROUP_QUERY = {
    "windows": "length_window_avg",
    "joins": "events_asof_attribution",
    "pattern": "pattern_user_assistant",
    "dedup": "dedup_minhash_lsh",
    "similarity": "similarity_topk_bruteforce",
    "text": "text_quality_scores",
    "multimodal": "multimodal_png_palette",
    "approx": "events_hll_distinct",
    "tpch": "tpch_q13_customer_distribution",
    "curation": "curation_decontaminate",
}
assert set(GROUP_QUERY.values()) <= set(HEADLINE)

APP_SQL = """
CREATE STREAM S (k VARCHAR, v INT);
CREATE STREAM Tumbled (k VARCHAR, total BIGINT, n BIGINT);
CREATE STREAM Big (k VARCHAR, v INT);
CREATE STREAM Rising (v1 INT, v2 INT);
INSERT INTO Tumbled
SELECT k, SUM(v) AS total, COUNT(*) AS n FROM S WINDOW('tumbling', 60 SECONDS) GROUP BY k;
INSERT INTO Big SELECT k, v FROM S WHERE v > 900;
INSERT INTO Rising
SELECT e1.v AS v1, e2.v AS v2 FROM PATTERN (EVERY (e1=S -> e2=S[v > e1.v]));
"""
APP_TARGETS = ("Tumbled", "Big", "Rising")
#: events sent to the SQL app
APP_EVENTS = 2000


def app_reference(rows: list[tuple]) -> dict[str, list[tuple]]:
    """Plain-Python results of APP_SQL over ``rows`` sent one per second."""
    tumbled: dict[tuple, list[int]] = {}
    for seq, (k, v) in enumerate(rows):
        acc = tumbled.setdefault((seq // 60, k), [0, 0])
        acc[0] += v
        acc[1] += 1
    rising = []
    for i, (_, v) in enumerate(rows):
        nxt = next((w for _, w in rows[i + 1:] if w > v), None)
        if nxt is not None:
            rising.append((v, nxt))
    return {
        "Tumbled": sorted((k, t, n) for (_, k), (t, n) in tumbled.items()),
        "Big": sorted((k, v) for k, v in rows if v > 900),
        "Rising": sorted(rising),
    }


class Registry(Workload):
    NAME = "registry"
    LAYER_UNITS = {
        **{f"plans.{m}": u for m, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))},
        **{
            f"plans.{g}.{m}": u
            for g in GROUP_QUERY
            for m, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))
        },
        "sql.execute_s": "s",
        "sql.send_s": "s",
        "sql.run_s": "s",
        "sql.nfa_run_s": "s",
        "sql.run_streaming_s": "s",
        **LiveStream.LAYER_UNITS,
    }

    def stage(self, spark, spans) -> None:
        super().stage(spark, spans)
        self.sf_dir = os.path.join(self.work, "sf")
        with contextlib.redirect_stdout(sys.stderr):
            gen_testdata.gen(SF, self.sf_dir, seed=self.seed)
        rng = random.Random(self.seed)
        self.app_rows = [(f"k{rng.randrange(8)}", rng.randrange(1000)) for _ in range(APP_EVENTS)]
        #: (query or target name, collected result) of every pass
        self.results: list[tuple[str, object]] = []

    def _pass(self, phase: str = "") -> list[float]:
        lat = []
        for name in GROUP_QUERY.values():
            df = self.spans.run(name, "build" + phase, QUERIES[name].fn, self.spark, self.sf_dir)
            self.results.append((name, self.spans.run(name, "exec" + phase, df.toPandas)))
            lat.append(sum(r["net_s"] for r in self.spans.records[-2:]) * 1000.0)
        return lat

    def warmup(self) -> None:
        """The cold pass (what a driver process that runs each query once
        sees), then one warm pass: the first warm pass still ran 10-15%
        slower than the ones after it."""
        self._pass("-cold")
        self._pass("-warmup")

    def measure(self, seconds: float) -> Measurement:
        return timed_passes(seconds, len(GROUP_QUERY), len(GROUP_QUERY), self._pass)

    def _sql_app(self) -> list[tuple[str, object]]:
        """The SQL front end: compile the app, send it seeded events, run
        each target, and stream the pattern target live."""
        app = self.spans.run("sql", "execute", EventFluxApp(self.spark).execute, APP_SQL)
        self.spans.run("sql", "send", app.send, "S", self.app_rows)
        out = [(t, self.spans.run(f"sql_{t}", "run", app.run, t)) for t in APP_TARGETS]
        live = EventFluxApp(self.spark).execute(APP_SQL)
        live.send("S", self.app_rows)
        out.append(("Rising", self.spans.run("sql_Rising", "run_streaming", live.run_streaming, "Rising")))
        return out

    def check(self) -> tuple[int, int]:
        """Each query's value hash equals the DuckDB oracle's over the same
        files. With tracing, the SQL app and the live stream run here too:
        each SQL target equals a plain-Python evaluation, and the live stream
        checks itself (``LiveStream.run``)."""
        con = duckdb_con(self.sf_dir)
        try:
            want = {
                name: value_hash(con.execute(QUERIES[name].oracle).fetchdf())
                for name in GROUP_QUERY.values()
            }
        finally:
            con.close()
        ok = bad = 0
        if self.trace:
            want.update(app_reference(self.app_rows))
            self.results += self._sql_app()
            self.live = LiveStream(self.spark, self.seed, self.work, self.seconds)
            try:
                ok, bad = self.live.run()
            finally:
                self.live.close()
        for name, got in self.results:
            good = (value_hash(got) if name in QUERIES else sorted(got)) == want[name]
            ok, bad = ok + good, bad + (not good)
            if not good:
                print(f"registry mismatch: {name}", file=sys.stderr)
        return ok, bad

    def layers(self, groups: dict, m: Measurement) -> dict[str, float]:
        n = len(m.pass_s)
        timed_jobs = {f"{self.NAME}:{q}:{p}" for q in GROUP_QUERY.values() for p in ("build", "exec")}
        timed = trace.merge(groups, lambda d: d in timed_jobs)
        out = {k: v / n for k, v in trace.spark_metrics(timed).items()}

        def span_s(job: str, phase: str) -> float:
            return sum(r["net_s"] for r in self.spans.records if r["job"] == job and r["phase"] == phase) / n

        def jobs(job: str) -> float:
            return trace.merge(groups, lambda d: d == f"{self.NAME}:{job}:build").jobs / n

        for key in ("build_s", "build_jobs", "exec_s"):
            out[f"plans.{key}"] = 0.0
        for g, q in GROUP_QUERY.items():
            vals = {"build_s": span_s(q, "build"), "build_jobs": jobs(q), "exec_s": span_s(q, "exec")}
            for key, v in vals.items():
                out[f"plans.{g}.{key}"] = v
                out[f"plans.{key}"] += v
        # the SQL app runs once, after the timed passes
        out["sql.execute_s"] = span_s("sql", "execute") * n
        out["sql.send_s"] = span_s("sql", "send") * n
        out["sql.run_s"] = sum(span_s(f"sql_{t}", "run") for t in APP_TARGETS) * n
        out["sql.nfa_run_s"] = span_s("sql_Rising", "run") * n
        out["sql.run_streaming_s"] = span_s("sql_Rising", "run_streaming") * n
        out.update(self.live.layers())
        return out
