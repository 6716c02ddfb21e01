"""The multimodal codecs' one Python-boundary helper, ``_map_rows``: declared
output types, zero-or-many rows per input row, empty input, and int
overflow. Row functions are defined inside each test so they ship to the
workers by value."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from eventflux_engine_spark.multimodal import _map_rows

MIXED = "id long, n int, payload binary, label string, score double"


def test_output_types_are_the_declared_schema(spark):
    def row(i):
        yield i, i * 2, bytes([i]) * 3, f"r{i}", i / 4

    out = _map_rows(spark.range(4), row, MIXED)
    assert out.schema == T.StructType.fromDDL(MIXED)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(i, i * 2, bytes([i]) * 3, f"r{i}", i / 4) for i in range(4)]
    pdf = out.toPandas()
    assert [str(d) for d in pdf.dtypes] == [
        "int64", "int32", "object", "object", "float64",
    ]


def test_a_row_may_yield_zero_or_several_rows(spark):
    # the sample_frames shape: row i yields i rows, so row 0 yields none
    def row(i):
        for k in range(i):
            yield i, k

    out = _map_rows(spark.range(0, 5, numPartitions=2), row, "id long, k int")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(i, k) for i in range(5) for k in range(i)]


def test_empty_input_gives_no_rows_with_the_declared_schema(spark):
    def row(i):
        yield i, f"r{i}"

    out = _map_rows(spark.range(0), row, "id long, label string")
    assert out.schema == T.StructType.fromDDL("id long, label string")
    assert out.collect() == []
    # a row function that drops every row gives the same
    out = _map_rows(spark.range(3), lambda i: (), "id long, label string")
    assert out.collect() == []


def test_int_overflow_raises_instead_of_wrapping(spark):
    def row(i):
        yield i, 2**31

    out = _map_rows(spark.range(1), row, "id long, n int")
    with pytest.raises(Exception, match="2147483648"):
        out.collect()
