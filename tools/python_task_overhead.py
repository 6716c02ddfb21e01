"""Fixed cost per task of a Python-worker stage.

Runs a pass-through ``mapInPandas`` (one row per task) over N partitions,
the way every engine operator reaches the Python workers (the UDF is an
engine function, so each worker imports the package). Prints one JSON line:

- ``job_ms``: median wall time of that job over ``--jobs`` runs, after two
  warm-up jobs;
- ``ms_per_task``: that wall time spread over the tasks, i.e.
  ``job_ms * min(cores, N) / N``, the task-slot time each task held;
- ``invalidate_ms_p50``: median time of one ``importlib.invalidate_caches()``
  inside the workers, the call PySpark's worker makes at the start of every
  task, measured by a separate probe job;
- ``patched_tasks``: how many probe tasks ran with the engine's
  ``zipimport_cache`` check installed.

Usage: python tools/python_task_overhead.py [--partitions 16] [--jobs 5]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers import the engine from this checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
)

from eventflux_engine_spark import session as S  # noqa: E402


def _probe(batches):
    import importlib
    import zipimport

    import pandas as pd

    for _ in S._ident(batches):  # an engine function, as in every operator
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    method = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame(
        {
            "pid": [os.getpid()],
            "ms": [ms],
            "patched": [method.__module__ != "zipimport"],
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--partitions", type=int, default=16)
    ap.add_argument("--jobs", type=int, default=5)
    args = ap.parse_args()
    n = args.partitions

    spark = S.get_spark(app_name="python_task_overhead")
    cores = spark.sparkContext.defaultParallelism

    def run_job() -> float:
        # the engine's own identity UDF: unpickling it imports the package
        df = spark.range(0, n, numPartitions=n).mapInPandas(S._ident, "id long")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1e3

    for _ in range(2):
        run_job()
    job_ms = statistics.median(run_job() for _ in range(args.jobs))

    probe = (
        spark.range(0, n, numPartitions=n)
        .mapInPandas(_probe, "pid long, ms double, patched boolean")
        .collect()
    )
    print(
        json.dumps(
            {
                "python": sys.version.split()[0],
                "cores": cores,
                "partitions": n,
                "job_ms": round(job_ms, 1),
                "ms_per_task": round(job_ms * min(cores, n) / n, 1),
                "invalidate_ms_p50": round(
                    statistics.median(r["ms"] for r in probe), 2
                ),
                "patched_tasks": f"{sum(r['patched'] for r in probe)}/{len(probe)}",
                "workers": len({r["pid"] for r in probe}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
