"""The decomposable-aggregate table (``operators/aggregations.py``) against a
plain-Python SQL reference: NULLs are skipped, SUM/MIN/MAX/AVG of no values
are NULL and COUNT counts non-NULL values. The pandas evaluator folds chunk
partials the way the live operators do; the Catalyst evaluator runs the same
two phases on Spark."""

import math

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from eventflux_engine_spark.operators.aggregations import (
    CATALYST,
    DECOMPOSABLE,
    MERGE,
    SimpleAgg,
    group_partials,
    pandas_partial,
)

ARROW = pa.schema([("k", pa.string()), ("i", pa.int64()), ("d", pa.float64())])
AGGS = [SimpleAgg(fn, col) for fn in sorted(DECOMPOSABLE) for col in ("i", "d")]
#: "n" only ever carries NULL values; None is a NULL key
KEYS = ["a", "b", "n", None]


def _sql(fn, values):
    vals = [v for v in values if v is not None]
    if fn == "count":
        return len(vals)
    if not vals:
        return None
    return {"sum": sum, "min": min, "max": max, "avg": lambda v: sum(v) / len(v)}[fn](vals)


def _reference(rows):
    groups = {}
    for k, i, d in rows:
        groups.setdefault(k, []).append({"i": i, "d": d})
    return {
        k: [_sql(a.fn, [r[a.arg] for r in rs]) for a in AGGS] for k, rs in groups.items()
    }


def _same(got, want):
    if want is None:
        return got is None or (isinstance(got, float) and math.isnan(got))
    return got == pytest.approx(want, rel=1e-9)


def _assert_matches(got, rows):
    got = {k if isinstance(k, str) else None: v for k, v in got.items()}
    want = _reference(rows)
    assert set(got) == set(want)
    for k, vals in want.items():
        for a, g, w in zip(AGGS, got[k], vals):
            assert _same(g, w), (k, a, g, w)


def _pandas(chunk_rows):
    """Each chunk as the live operators see it (Arrow -> pandas)."""
    return pa.Table.from_pylist(
        [dict(zip(ARROW.names, r)) for r in chunk_rows], schema=ARROW
    ).to_pandas()


_value = st.one_of(st.none(), st.integers(-10**6, 10**6))
_double = st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False))
_row = st.tuples(st.sampled_from(KEYS), _value, _double).map(
    lambda r: (r[0], None, None) if r[0] == "n" else r
)


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(_row, min_size=1, max_size=30), data=st.data())
def test_pandas_merge_of_chunk_partials_matches_sql(rows, data):
    cuts = sorted(data.draw(st.lists(st.integers(0, len(rows)), max_size=4)))
    bounds = [0, *cuts, len(rows)]
    raw = {n: (k, a.arg) for i, a in enumerate(AGGS) for n, k in a.partials(i)}
    merge = {n: (MERGE[k], n) for n, (k, _src) in raw.items()}
    accs = None
    for lo, hi in zip(bounds, bounds[1:]):
        block = group_partials(_pandas(rows[lo:hi]), ["k"], raw)
        accs = group_partials(pd.concat([accs, block]), ["k"], merge)
    finals = [a.final(i, lambda n, _k: accs[n]) for i, a in enumerate(AGGS)]
    got = {k: [f.iloc[j] for f in finals] for j, k in enumerate(accs["k"])}
    _assert_matches(got, rows)


@settings(max_examples=30, deadline=None)
@given(values=st.lists(_value, min_size=1, max_size=12), n=st.integers(1, 4))
def test_rolling_partials_match_sql(values, n):
    win = _pandas([(None, v, None) for v in values])["i"].rolling(n, min_periods=1)
    for fn in sorted(DECOMPOSABLE):
        a = SimpleAgg(fn, "i")
        got = a.final(0, lambda _n, k: pandas_partial(k, win))
        for j in range(len(values)):
            want = _sql(fn, values[max(0, j - n + 1): j + 1])
            assert _same(got.iloc[j], want), (fn, n, j)


def test_catalyst_two_phase_matches_sql(spark):
    rows = [
        ("a", 1, 0.5), ("a", None, None), ("b", 7, -2.0), ("n", None, None),
        ("a", 3, None), (None, 4, 1.25), ("b", None, 3.0), ("n", None, None),
        (None, None, None), ("b", -2, 0.25),
    ]
    df = spark.createDataFrame(
        [(j % 3, *r) for j, r in enumerate(rows)], "chunk int, k string, i bigint, d double"
    )
    parts = [(n, k, a) for i, a in enumerate(AGGS) for n, k in a.partials(i)]
    partial = df.groupBy("k", "chunk").agg(
        *[CATALYST[k](a.column()).alias(n) for n, k, a in parts]
    )
    out = partial.groupBy("k").agg(*[
        a.final(i, lambda n, k: CATALYST[MERGE[k]](n)).alias(f"f{i}")
        for i, a in enumerate(AGGS)
    ])
    got = {r["k"]: [r[f"f{i}"] for i in range(len(AGGS))] for r in out.collect()}
    _assert_matches(got, rows)
