"""Driver-side build cost of every ``bench.HEADLINE`` query.

Builds each query (its registry function, with no action on the result)
and prints one JSON line per query:

- ``build_ms``: wall time of the build;
- ``build_jobs``: the Spark jobs the build fired (``testing.count_jobs``).

All queries are built twice in ``HEADLINE`` order: the first pass warms
the session up (first-use class loading and planning caches would
otherwise count as build time), the rows printed are the second. A last
line sums the pass.

Usage: python tools/build_jobs.py <sf_dir>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers import the engine from this checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
)

from bench import HEADLINE  # noqa: E402
from eventflux_engine_spark.plans import QUERIES  # noqa: E402
from eventflux_engine_spark.session import get_spark  # noqa: E402
from eventflux_engine_spark.testing import count_jobs  # noqa: E402


def _timed_ms(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return (time.perf_counter() - t0) * 1000.0


def build_pass(spark, sf_dir: str) -> list[dict]:
    rows = []
    for name in HEADLINE:
        ms, jobs = count_jobs(spark, _timed_ms, QUERIES[name].fn, spark, sf_dir)
        rows.append({"query": name, "build_ms": round(ms, 1), "build_jobs": jobs})
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    args = ap.parse_args()
    spark = get_spark(app_name="build_jobs")
    for _ in range(2):
        rows = build_pass(spark, args.sf_dir)
        spark.catalog.clearCache()
    for row in rows:
        print(json.dumps(row))
    print(json.dumps({
        "queries": len(rows),
        "build_ms": round(sum(r["build_ms"] for r in rows), 1),
        "build_jobs": sum(r["build_jobs"] for r in rows),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
