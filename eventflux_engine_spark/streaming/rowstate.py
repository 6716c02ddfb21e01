"""The rows a live operator keeps in the state store between micro-batches.

Every ``applyInPandasWithState`` operator that holds rows (the sort, time
and rate-limit buffers, the snapshot partials, the pattern matchers' event
buffers) stores them as ONE ``binary`` state column through this pair:
:func:`pack` writes a pandas frame as an Arrow IPC stream, :func:`unpack`
reads it back. The stream carries its own schema and pandas metadata, so
each column comes back with the Arrow type pyarrow takes from the frame's
dtype, and with that dtype: '007' stays a string, a nullable BOOLEAN keeps
its NULLs, a TIMESTAMP keeps its nanoseconds. No value is re-inferred
from text.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa


def pack(pdf: pd.DataFrame | None) -> bytes | None:
    """``pdf``'s rows and column types as Arrow IPC stream bytes; the index
    is not kept. ``None`` (nothing held) packs to ``None``."""
    if pdf is None:
        return None
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def unpack(blob: bytes | None) -> pd.DataFrame | None:
    """The frame :func:`pack` wrote, on a fresh ``RangeIndex``. ``None``
    unpacks to ``None``, which ``pd.concat`` skips."""
    if blob is None:
        return None
    return pa.ipc.open_stream(blob).read_all().to_pandas()
