"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cep_batch --seed 1 --seconds 8 --trace 0

With ``--trace 0`` the result carries every end-to-end metric; with
``--trace 1`` it carries every per-layer metric, taken from the
benchmark's own spans and from Spark's event log. See perfbench/README.md
for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

PROCESS_START = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

PROCESS_TICKS = common.cpu_ticks()

# the engine must be importable from the checkout; without it the benchmark
# fails here, before any session starts
import eventflux_engine_spark  # noqa: E402,F401
from eventflux_engine_spark.session import get_spark  # noqa: E402

from perfbench import trace  # noqa: E402
from perfbench.common import Spans  # noqa: E402
from perfbench.workloads import WORKLOADS, Measurement  # noqa: E402

#: (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"),
    ("suite_s", "s"),
    ("items_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]


#: turns the ``datamodel.gen_s`` floor generates
GEN_TURNS = 400_000


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (BENCHMARK.json ``per_layer``)."""
    units = {
        "session.get_spark_s": "s",
        "datamodel.gen_s": "s",
        "bench.warmup_s": "s",
        "trace.suite_s": "s",
        "trace.latency_p50_ms": "ms",
        "trace.parse_s": "s",
    }
    for name in trace.spark_metrics(trace.Group()):
        units[name] = _unit_of(name)
    for cls in WORKLOADS.values():
        units.update(cls.LAYER_UNITS)
    return units


def _unit_of(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ms", "ms")):
        if name.endswith(suffix):
            return unit
    return "count"


def generator_floor(spark) -> None:
    """The transcript generator alone, written to a no-op sink: the floor
    under every CEP job's wall time."""
    from eventflux_engine_spark.datamodel import synth_transcripts
    from eventflux_engine_spark.session import default_parallelism

    synth_transcripts(
        spark, GEN_TURNS, GEN_TURNS // 200, partitions=default_parallelism() * 4
    ).write.format("noop").mode("overwrite").save()


def span_summary(records: list[dict]) -> dict[str, float]:
    """Median seconds per ``job:phase`` span, for the run's diagnostics."""
    by: dict[str, list[float]] = {}
    for r in records:
        by.setdefault(f"{r['job']}:{r['phase']}", []).append(r["net_s"])
    return {k: round(common.median(v), 4) for k, v in by.items()}


def end_to_end(setup_s: float, m: Measurement, peak_mb: float) -> dict[str, float]:
    """Times are wall times net of host steal (perfbench/README.md)."""
    return {
        "setup_s": setup_s,
        "suite_s": common.median(m.net_pass_s()),
        "items_per_s": m.items_per_s(),
        # each operation's median over the passes, then the median over the
        # operations: one slow pass does not shift which operation sits in
        # the middle
        "latency_p50_ms": common.median(
            [common.median([lat[op] for lat in m.latency_ms]) for op in range(m.ops)]
        ),
        "peak_rss_mb": peak_mb,
    }


def run(args, work: str) -> dict:
    pinned = common.pin_environment(work)
    if args.cores:
        pinned["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    wl = WORKLOADS[args.workload](
        seed=args.seed, work=work, trace=bool(args.trace), seconds=args.seconds
    )
    spark = None
    try:
        with common.RssSampler() as rss:
            g0 = time.perf_counter()
            spark = get_spark(extra_conf=common.session_conf(work, bool(args.trace)))
            get_spark_s = time.perf_counter() - g0
            spans = Spans(spark, args.workload, bool(args.trace))
            wl.stage(spark, spans)
            w0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - w0
            # set-up: process start (imports, JVM launch, session) through
            # input staging and warm-up, up to the first timed call
            setup_wall_s = time.perf_counter() - PROCESS_START
            setup_s = setup_wall_s * common.running_share(PROCESS_TICKS, common.cpu_ticks())
            m = wl.measure(args.seconds)
        ok_checks, bad_checks = wl.check()
        if args.trace:
            spans.run("datamodel", "gen", generator_floor, spark)
            gen_s = spans.records[-1]["net_s"]
    finally:
        wl.close()
        if spark is not None:
            spark.stop()
        common.stop_jvm()
    wl.after_stop(bool(args.trace))
    attempted = m.attempted + ok_checks + bad_checks
    failed = m.failed + bad_checks
    e2e = end_to_end(setup_s, m, rss.peak_mb)
    if args.trace:
        p0 = time.perf_counter()
        groups = trace.parse(trace.event_log_file(os.path.join(work, "eventlog")))
        units = per_layer_units()
        metrics = {name: 0.0 for name in units}
        metrics.update(
            {
                "session.get_spark_s": get_spark_s,
                "bench.warmup_s": warmup_s,
                "trace.suite_s": e2e["suite_s"],
                "trace.latency_p50_ms": e2e["latency_p50_ms"],
                "datamodel.gen_s": gen_s,
            }
        )
        metrics.update(wl.layers(groups, m))
        metrics["trace.parse_s"] = time.perf_counter() - p0
    else:
        units = dict(END_TO_END)
        metrics = e2e
    print(
        json.dumps({"workload": args.workload, "seed": args.seed, "environment": pinned,
                    "pass_s": m.pass_s, "pass_running": m.running,
                    "setup_wall_s": setup_wall_s, "setup_s": setup_s,
                    "get_spark_s": get_spark_s, "warmup_s": warmup_s,
                    "spans_s": span_summary(spans.records)}),
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="override the core count (the single-thread baseline)")
    args = ap.parse_args(argv)
    work = os.path.join(common.WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
