"""Round-6 optimization profiler (bench.py itself is FROZEN — this is the
guide §1.4 noop-sink / per-query isolation harness).

Times each headline query in ONE session with the same config bench.py uses,
reporting per-rep wall seconds plus the number of Spark jobs/stages each
query triggers (fixed scheduling overhead is the suspected wall at sf0.1).

Usage:
    python tools/profile_r06.py [query ...]        # default: all headline
    PROFILE_REPS=3 python tools/profile_r06.py dedup_minhash_lsh
    PROFILE_EXPLAIN=plans/r06 PROFILE_SUFFIX=_before python tools/profile_r06.py ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from eventflux_engine_spark.plans import QUERIES  # noqa: E402
from eventflux_engine_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("PROFILE_REPS", "3"))
    explain_dir = os.environ.get("PROFILE_EXPLAIN", "")
    suffix = os.environ.get("PROFILE_SUFFIX", "_before")
    names = sys.argv[1:] or HEADLINE

    spark = get_spark(app_name="profile_r06")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warm-up like bench.py does
    QUERIES["tumbling_turn_counts"].fn(spark, sf_dir).count()

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name].fn
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            with open(os.path.join(explain_dir, f"{name}{suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        times, jobs = [], []
        for _ in range(reps):
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            sc.setJobGroup(f"prof:{name}", name)
            t0 = time.time()
            fn(spark, sf_dir).count()
            times.append(round(time.time() - t0, 3))
            ids = tracker.getJobIdsForGroup(f"prof:{name}") or []
            jobs.append(len(ids))
            sc.setJobGroup("", "")
        out[name] = {"times": times, "min": min(times), "jobs": jobs[-1]}
        print(json.dumps({name: out[name]}), flush=True)
    total_min = round(sum(v["min"] for v in out.values()), 3)
    print(json.dumps({"total_min": total_min, "n": len(out)}))


if __name__ == "__main__":
    main()
