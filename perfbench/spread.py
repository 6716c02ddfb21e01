"""Run one workload on several seeds and report each end-to-end metric's
median and spread (interquartile distance over the median).

    python3 perfbench/spread.py --workload cep_batch --seeds 1-10 --seconds 5

Prints one JSON object; ``--out`` also writes it to a file. Each run is a
separate ``run.py`` process, one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, cwd=os.path.dirname(HERE),
        )
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            print(res.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {res.returncode}")
        result = json.loads(lines[-1])
        result["seed"], result["wall_s"] = seed, round(time.time() - t0, 1)
        # run.py's summary line: wall times and the share the host let run
        diag_lines = [ln for ln in res.stderr.splitlines() if ln.startswith('{"workload"')]
        if diag_lines:
            diag = json.loads(diag_lines[-1])
            for key in ("pass_s", "pass_running", "setup_wall_s"):
                result[key] = diag[key]
        runs.append(result)
        print(json.dumps({"seed": seed, "wall_s": result["wall_s"], "correct": result["correct"],
                          "pass_s": result.get("pass_s"),
                          "pass_running": result.get("pass_running")}),
              file=sys.stderr)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {
            "median": statistics.median(vals),
            "spread": spread(vals) if len(vals) > 1 else 0.0,
            "unit": runs[0]["metrics"][name]["unit"],
        }
    out = {
        "workload": args.workload,
        "seconds": float(args.seconds),
        "all_correct": all(r["correct"] for r in runs),
        "max_wall_s": max(r["wall_s"] for r in runs),
        "metrics": summary,
        "runs": runs,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "runs"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
