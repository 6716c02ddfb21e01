"""``iter_key_blocks``: whole-key blocks from record batches cut at
arbitrary points, empty batches, a key over many batches and null keys
included."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from eventflux_engine_spark.cep.blocks import iter_key_blocks, key_starts

HOT_PIECES = 12  # the hot key is cut into this many batches


@st.composite
def cut_runs(draw):
    """Key runs (one of them possibly null, one of them hot) and the record
    batches they are cut into, empty batches included."""
    lengths = draw(st.lists(st.integers(1, 20), min_size=1, max_size=10))
    hot = draw(st.integers(0, len(lengths) - 1))
    lengths[hot] = 4 * HOT_PIECES + draw(st.integers(0, 20))
    null_run = draw(st.one_of(st.none(), st.integers(0, len(lengths) - 1)))
    keys = [None if i == null_run else f"k{i:02d}" for i in range(len(lengths))]
    run_id = np.repeat(np.arange(len(lengths)), lengths)
    n = len(run_id)
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": pa.array([keys[r] for r in run_id], pa.string()),
            "row": pa.array(np.arange(n)),
        }
    )
    hot_start = sum(lengths[:hot])
    cuts = [hot_start + 4 * j for j in range(1, HOT_PIECES)]
    cuts += draw(st.lists(st.integers(0, n), max_size=20))
    bounds = [0, 0, *sorted(cuts), n, n]  # leading and trailing empty batches
    pieces = [batch.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    return batch, run_id, pieces


class TestIterKeyBlocks:
    @given(case=cut_runs())
    @settings(max_examples=200, deadline=None)
    def test_blocks_hold_whole_keys_in_input_order(self, case):
        batch, run_id, pieces = case
        assert any(p.num_rows == 0 for p in pieces)
        blocks = list(iter_key_blocks(iter(pieces), "conv_id"))
        assert all(b.num_rows for b in blocks)
        # concatenated, the blocks are the input, in input order
        assert pa.Table.from_batches(blocks).equals(pa.Table.from_batches([batch]))
        # every key (a null key included) lies in exactly one block
        block_of = np.repeat(np.arange(len(blocks)), [b.num_rows for b in blocks])
        for r in np.unique(run_id):
            assert len(np.unique(block_of[run_id == r])) == 1
        # key runs numbered once per block; nulls compare equal to each other
        for b in blocks:
            rows = b.column("row").to_numpy()
            codes = np.cumsum(key_starts(b.column("conv_id")))
            assert np.array_equal(codes, run_id[rows] - run_id[rows[0]] + 1)

    def test_null_keys_form_one_key(self):
        keys = pa.array([None, None, "a", None, "b", "b"], pa.string())
        assert key_starts(keys).tolist() == [True, False, True, True, True, False]
