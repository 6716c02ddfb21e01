"""Open-loop event generator for the ``stream_live`` workload.

Runs as its own process, separate from the system under test, on one
thread for its own work (pyarrow's pools are capped at one thread each).
It pre-writes every seeded chunk to a staging directory, then publishes
them into the watched directory by atomic rename on a fixed schedule that
does not slow down when the engine does:

    stdin ``warm``  publish the warm-up chunks at once
    stdin ``go``    publish chunk i at go + i * interval, then a sentinel
                    chunk whose far-future event time closes every window

It stamps each chunk with its due time and the time it was actually
published, writes them to ``--log`` as JSON and prints ``done``.

Events are transcript turns (the engine's ``TRANSCRIPT_SCHEMA``). Event time
advances ``CHUNK_SPAN_S`` per chunk; about 5% of the turns are displaced
back by up to a minute (inside the consumer's watermark delay), and one
conversation carries about a quarter of all turns.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

pa.set_cpu_count(1)
pa.set_io_thread_count(1)

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
ROLES = np.array(["user", "assistant", "tool", "system"])
ROLE_P = [0.4, 0.3, 0.2, 0.1]
TOOLS = np.array(["search", "exec"])
T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
SENTINEL_CONV = "~sentinel"
#: late turns are displaced back by at most this much event time
MAX_DISPLACEMENT_S = 60
OUT_OF_ORDER_SHARE = 0.05
HOT_SHARE = 0.25
#: offered load: one chunk of ROWS turns every INTERVAL_S seconds, a little
#: under half of the rate the 4-core reference box sustains (perfbench/README.md)
INTERVAL_S = 0.08
ROWS = 200
CONVS = 200
#: event time covered by one chunk
CHUNK_SPAN_S = 60
#: chunks published at once, before the timed schedule starts
WARM_CHUNKS = 8


def make_chunk(rng: np.random.Generator, i: int) -> pa.Table:
    conv = rng.integers(1, CONVS + 1, ROWS)
    conv[rng.random(ROWS) < HOT_SHARE] = 0
    ts = T0_US + (i * CHUNK_SPAN_S + rng.random(ROWS) * CHUNK_SPAN_S) * 1_000_000
    late = rng.random(ROWS) < OUT_OF_ORDER_SHARE
    ts[late] -= rng.random(int(late.sum())) * MAX_DISPLACEMENT_S * 1_000_000
    order = np.argsort(ts, kind="stable")
    # a displaced turn still arrives in this chunk: out of event-time order
    # relative to turns already delivered in earlier chunks
    conv, ts = conv[order], ts[order].astype("int64")
    role = rng.choice(ROLES, ROWS, p=ROLE_P)
    tool = np.where(role == "tool", rng.choice(TOOLS, ROWS), "")
    seq = range(i * ROWS, (i + 1) * ROWS)
    return pa.table(
        {
            "conv_id": [f"conv{c:06d}" for c in conv],
            "turn_idx": np.array(seq, dtype=np.int32),
            "role": role,
            "text": [f"{r} turn {k}" for r, k in zip(role, seq)],
            "tool": tool,
            "ts": pa.array(ts, pa.timestamp("us")),
        },
        schema=SCHEMA,
    )


def sentinel_ts_s(n_chunks: int) -> float:
    """Event time (epoch seconds) of the sentinel that follows ``n_chunks``
    chunks: a day past the last chunk, so every window closes."""
    return T0_US / 1e6 + n_chunks * CHUNK_SPAN_S + 86_400


def sentinel(n_chunks: int) -> pa.Table:
    far = int(sentinel_ts_s(n_chunks) * 1_000_000)
    return pa.table(
        {
            "conv_id": [SENTINEL_CONV],
            "turn_idx": np.array([n_chunks * ROWS], dtype=np.int32),
            "role": ["system"],
            "text": [""],
            "tool": [""],
            "ts": pa.array([far], pa.timestamp("us")),
        },
        schema=SCHEMA,
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="watched directory")
    ap.add_argument("--log", required=True)
    ap.add_argument("--chunks", type=int, required=True, help="timed chunks")
    args = ap.parse_args()

    rng = np.random.default_rng(args.seed)
    # a sibling of the watched directory, so that publishing is a rename
    staging = args.out.rstrip(os.sep) + ".staging"
    os.makedirs(staging, exist_ok=True)
    os.makedirs(args.out, exist_ok=True)
    total = WARM_CHUNKS + args.chunks
    names, rows = [], []
    for i in range(total):
        t = make_chunk(rng, i)
        names.append(f"chunk_{i:05d}.parquet")
        rows.append(t.num_rows)
        pq.write_table(t, os.path.join(staging, names[-1]))
    names.append(f"chunk_{total:05d}.parquet")
    rows.append(1)
    pq.write_table(sentinel(total), os.path.join(staging, names[-1]))

    def publish(i: int) -> float:
        os.rename(os.path.join(staging, names[i]), os.path.join(args.out, names[i]))
        return time.time()

    print("ready", flush=True)
    log = {"chunks": []}
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "warm":
            for i in range(WARM_CHUNKS):
                now = time.time()
                log["chunks"].append({"name": names[i], "rows": rows[i], "warm": True,
                                      "due": now, "published": publish(i)})
            print("warmed", flush=True)
        elif cmd == "go":
            start = time.time()
            for k, i in enumerate(range(WARM_CHUNKS, total + 1)):
                due = start + k * INTERVAL_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                log["chunks"].append({"name": names[i], "rows": rows[i], "warm": False,
                                      "sentinel": i == total, "due": due,
                                      "published": publish(i)})
            break
    with open(args.log + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(args.log + ".tmp", args.log)
    print("done", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
