"""Standalone spot-timer for the heaviest registry queries at big scale
factors (the sf3.0/sf10 sections of BENCH/BASELINE.md).

Same measurement as bench.py's headline loop — one warm session, per-query
`.count()` wall — without the CEP sections, so a 100x-scale directory can
be spot-checked inside a sane wall budget.

Usage: python tools/bench_spot.py <sf_dir> <query> [query ...]
Prints one JSON line {"sf_dir": ..., "queries": {name: [sec, ...]}}: every
run of a query, in run order. Name a query twice to time it cold, then
warm; drop the first entry of its list to keep only the warm run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventflux_engine_spark.plans import QUERIES  # noqa: E402
from eventflux_engine_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(app_name="bench_spot")
    QUERIES["tumbling_turn_counts"].fn(spark, sf_dir).count()  # warm
    out: dict[str, list[float]] = {}
    for name in names:
        t0 = time.time()
        n = QUERIES[name].fn(spark, sf_dir).count()
        sec = round(time.time() - t0, 3)
        out.setdefault(name, []).append(sec)
        print(f"# {name}: {sec}s ({n} rows)", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
