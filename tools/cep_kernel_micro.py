"""Time the Arrow CEP block kernels in-process, without Spark.

Builds seeded transcript record batches the way a ``mapInArrow`` task of the
fused job receives them: conversations sorted by ``(conv_id, ts)``, cut into
``--batch-rows``-row batches (the session's ``maxRecordsPerBatch``) with no
regard to conversation boundaries. Then prints the median milliseconds per
100k input rows of:

- ``iter``: ``iter_key_blocks`` alone;
- ``linear``: the linear pattern kernel (user -> assistant within 30 min);
- ``fused``: the fused per-conversation rollup kernel;
- ``absent``: the absent kernel (user with no assistant within 30 min).

Each kernel's time includes the iterator, since that is how the kernels run.
Exchange, sort and the Arrow transfer are not included: this is the numpy
kernel measured apart from Spark.

    PYTHONPATH=. python tools/cep_kernel_micro.py [--rows N] [--seed S] [--repeat R]
"""

from __future__ import annotations

import argparse
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa

from eventflux_engine_spark.cep import PatternSpec, Step
from eventflux_engine_spark.cep.blocks import iter_key_blocks
from eventflux_engine_spark.cep.fused import rollup_block
from eventflux_engine_spark.cep.nfa import match_absent_block, match_linear_block

SPEC = PatternSpec(
    steps=(Step("e1", "is_user"), Step("e2", "is_assistant")),
    within=pd.Timedelta(minutes=30),
)
WITHIN_NS = int(SPEC.within.value)


def transcript_batches(rows: int, seed: int, batch_rows: int) -> list[pa.RecordBatch]:
    """Seeded transcripts, ~200 turns per conversation, gaps of 1 s to 1 h."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(50, 350, rows // 50 + 1)
    lengths = lengths[: np.searchsorted(lengths.cumsum(), rows) + 1]
    lengths[-1] -= lengths.sum() - rows
    conv = np.repeat(np.arange(len(lengths)), lengths)
    first = np.r_[0, lengths.cumsum()[:-1]]
    gaps_us = rng.integers(1_000_000, 3_600_000_000, rows)
    gaps_us[first] = 0
    ts_us = 1_700_000_000_000_000 + np.cumsum(gaps_us)
    role = rng.choice(np.array(["user", "assistant", "tool"]), rows, p=[0.4, 0.4, 0.2])
    table = pa.table(
        {
            "conv_id": pa.array(np.char.add("conv-", np.char.zfill(conv.astype(str), 7))),
            "turn_idx": pa.array((np.arange(rows) - np.repeat(first, lengths)).astype(np.int32)),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "tool": pa.array(np.where(role == "tool", "search", "")),
            "is_user": pa.array(role == "user"),
            "is_assistant": pa.array(role == "assistant"),
        }
    )
    return table.to_batches(max_chunksize=batch_rows)


KERNELS = {
    "iter": lambda b: b,
    "linear": lambda b: match_linear_block(b, SPEC),
    "fused": lambda b: rollup_block(b, SPEC, 1800, 300),
    "absent": lambda b: match_absent_block(
        b, "conv_id", "ts", "is_user", "is_assistant", WITHIN_NS
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--repeat", type=int, default=7)
    ap.add_argument("--batch-rows", type=int, default=131_072)
    args = ap.parse_args()

    batches = transcript_batches(args.rows, args.seed, args.batch_rows)
    print(f"rows={args.rows} batches={len(batches)} seed={args.seed} repeat={args.repeat}")
    for name, kernel in KERNELS.items():
        times, out_rows = [], 0
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            out_rows = sum(kernel(b).num_rows for b in iter_key_blocks(batches, "conv_id"))
            times.append(time.perf_counter() - t0)
        ms = statistics.median(times) * 1000 * 100_000 / args.rows
        print(f"{name:7s} {ms:8.2f} ms/100k rows   out_rows={out_rows}")


if __name__ == "__main__":
    main()
