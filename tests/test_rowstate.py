"""``streaming/rowstate``: a frame packed into a live operator's state comes
back value for value and dtype for dtype, over the SQL layer's types as
Arrow hands them to pandas (no Spark needed)."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from eventflux_engine_spark.streaming.rowstate import pack, unpack

I32 = np.iinfo(np.int32)
I64 = np.iinfo(np.int64)

#: SQL type -> (Arrow type, value strategy); every column may hold NULLs
COLUMNS = {
    "VARCHAR": (pa.string(), st.one_of(
        st.sampled_from(["007", "1e3", "-0", "nan", "true", "", " "]),
        st.integers().map(str),
        st.text(max_size=4),
    )),
    "BOOLEAN": (pa.bool_(), st.booleans()),
    "INT": (pa.int32(), st.one_of(
        st.sampled_from([int(I32.min), int(I32.max), 0]), st.integers(I32.min, I32.max))),
    "BIGINT": (pa.int64(), st.one_of(
        st.sampled_from([int(I64.min), int(I64.max), 0]), st.integers(I64.min, I64.max))),
    "DOUBLE": (pa.float64(), st.floats(allow_nan=True, allow_infinity=True)),
    "TIMESTAMP": (pa.timestamp("ns"), st.integers(-(2**62), 2**62)),
}


@st.composite
def frames(draw):
    """A frame as Arrow converts a batch of SQL-typed columns to pandas (the
    conversion Spark applies before a live operator sees its rows)."""
    n = draw(st.integers(0, 12))
    names = draw(st.lists(st.sampled_from(sorted(COLUMNS)), min_size=1, max_size=6))
    cols = {}
    for i, sql_type in enumerate(names):
        arrow_type, values = COLUMNS[sql_type]
        vals = draw(st.lists(st.one_of(st.none(), values), min_size=n, max_size=n))
        cols[f"c{i}_{sql_type}"] = pa.array(vals, arrow_type)
    return pa.table(cols).to_pandas()


@given(df=frames())
@settings(max_examples=300, deadline=None)
def test_unpack_inverts_pack(df):
    pd.testing.assert_frame_equal(unpack(pack(df)), df, check_exact=True)


def test_empty_frame_keeps_column_types():
    df = pd.DataFrame({
        "s": pd.Series([], dtype=object),
        "b": pd.Series([], dtype=bool),
        "i": pd.Series([], dtype="int32"),
        "d": pd.Series([], dtype="float64"),
        "t": pd.Series([], dtype="datetime64[ns]"),
    })
    back = unpack(pack(df))
    assert back.empty
    pd.testing.assert_series_equal(back.dtypes, df.dtypes)


def test_numeric_looking_strings_nullable_booleans_and_ns_timestamps():
    ts = pd.Timestamp(datetime.datetime(2024, 1, 1)) + pd.Timedelta(nanoseconds=1)
    df = pd.DataFrame({
        "code": ["007", None, ""],
        "ok": [True, None, False],
        "v": np.array([I32.min, 0, I32.max], dtype="int32"),
        "t": [ts, pd.NaT, ts],
    })
    back = unpack(pack(df))
    pd.testing.assert_frame_equal(back, df, check_exact=True)
    assert back["code"].tolist() == ["007", None, ""]
    assert back["ok"].tolist() == [True, None, False]
    assert back["t"].iloc[0].nanosecond == 1


def test_index_is_not_kept_and_none_means_nothing_held():
    df = pd.DataFrame({"v": [1, 2, 3]}).iloc[1:]
    pd.testing.assert_frame_equal(unpack(pack(df)), df.reset_index(drop=True))
    assert pack(None) is None and unpack(None) is None
    pd.testing.assert_frame_equal(pd.concat([unpack(None), df]), df)
