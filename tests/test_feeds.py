"""The sentinel-terminated feeds of ``run_streaming`` (``sql/feeds.py``) and
the test feeds of ``streaming.chunked_feed``, which share one typed writer,
checked on the written parquet files with pyarrow: no streaming query runs."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from eventflux_engine_spark.sql import feeds
from eventflux_engine_spark.sql.feeds import (
    SENTINEL_GAP,
    SENTINEL_SEQ,
    SENTINEL_TS,
    Feeds,
    drop_sentinel,
    keep_sentinel,
    sentinel_row,
    write_feed,
)
from eventflux_engine_spark.streaming import chunked_feed

SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.IntegerType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("__seq", T.LongType()),
    T.StructField("__ts", T.TimestampType()),
])


def _rows(n):
    t0 = datetime.datetime(2024, 1, 1)
    return [
        (f"k{i}", i, i / 2, i, t0 + datetime.timedelta(seconds=i)) for i in range(n)
    ]


def _read(paths):
    return [pq.read_table(p) for p in paths]


class TestWriteFeed:
    def test_every_chunk_has_the_declared_types(self, tmp_path):
        # the second chunk's strings are all null: pandas would have written
        # that column as INT32, which the file stream's schema rejects
        rows = _rows(4)
        rows[2] = (None, 2, 1.0, 2, rows[2][4])
        rows[3] = (None, 3, 1.5, 3, rows[3][4])
        paths = write_feed(str(tmp_path), SCHEMA, rows, 2, sentinel_row(SCHEMA))
        assert len(paths) == 2
        want = to_arrow_schema(SCHEMA)
        for t in _read(paths):
            assert t.schema == want
        assert _read(paths)[1].column("k").to_pylist() == [None, None, None]
        assert want.field("v").type == pa.int32()

    def test_sentinel_is_last_row_of_last_chunk(self, tmp_path):
        rows = _rows(7)
        paths = write_feed(str(tmp_path), SCHEMA, rows, 3, sentinel_row(SCHEMA, 2))
        tables = _read(paths)
        assert [t.num_rows for t in tables] == [2, 3, 3]
        seqs = pa.concat_tables(tables).column("__seq").to_pylist()
        assert seqs == list(range(7)) + [SENTINEL_SEQ + 2]
        last = tables[-1].to_pylist()[-1]
        assert last["k"] is None and last["v"] == 0 and last["x"] == 0.0
        ts_us = tables[-1].column("__ts").cast(pa.int64()).to_pylist()[-1]
        assert ts_us == T.TimestampType().toInternal(SENTINEL_TS + 2 * SENTINEL_GAP)

    def test_empty_input_is_a_sentinel_only_feed(self, tmp_path):
        paths = write_feed(str(tmp_path), SCHEMA, [], 3, sentinel_row(SCHEMA))
        (table,) = _read(paths)
        assert table.schema == to_arrow_schema(SCHEMA)
        assert table.column("__seq").to_pylist() == [SENTINEL_SEQ]

    def test_fewer_rows_than_chunks(self, tmp_path):
        paths = write_feed(str(tmp_path), SCHEMA, _rows(2), 5, sentinel_row(SCHEMA))
        assert [t.num_rows for t in _read(paths)] == [1, 2]

    def test_outer_join_sentinel_strings(self):
        row = sentinel_row(SCHEMA, 1, feeds.OUTER_JOIN_KEY)
        assert row[0] == feeds.OUTER_JOIN_KEY
        assert row[3] == SENTINEL_SEQ + 1


class TestFeeds:
    def test_each_feed_gets_a_distinct_sentinel(self, spark):
        with Feeds(spark, 2) as fs:
            for _ in range(3):
                fs.open(SCHEMA, _rows(3))
            last = [
                _read(sorted(os.path.join(d, f) for f in os.listdir(d)))[-1]
                .to_pylist()[-1]
                for d in fs.dirs
            ]
        assert [r["__seq"] for r in last] == [SENTINEL_SEQ + k for k in range(3)]
        ts = [r["__ts"] for r in last]
        assert len(set(ts)) == 3
        assert all(b - a == SENTINEL_GAP for a, b in zip(ts, ts[1:]))

    def test_flush_feed_row_sits_behind_n_chunks_empty_files(self, spark):
        with Feeds(spark, 3) as fs:
            stream = fs.open(SCHEMA, lead_empty=3)
            d = fs.dirs[0]
            names = sorted(os.listdir(d))
            tables = _read([os.path.join(d, f) for f in names])
        assert stream.isStreaming
        assert [t.num_rows for t in tables] == [0, 0, 0, 1]
        assert all(t.schema == to_arrow_schema(SCHEMA) for t in tables)
        assert tables[-1].column("__seq").to_pylist() == [SENTINEL_SEQ]
        assert not os.path.exists(d)

    def test_sentinel_helpers(self, spark):
        df = spark.createDataFrame(
            [(1, 5), (2, 0), (SENTINEL_SEQ, 0), (SENTINEL_SEQ + 3, 9)],
            "__seq bigint, v int",
        )
        assert sorted(r[0] for r in drop_sentinel(df).collect()) == [1, 2]
        kept = df.filter(keep_sentinel("v > 1")).collect()
        assert sorted(r[0] for r in kept) == [1, SENTINEL_SEQ, SENTINEL_SEQ + 3]
        two = df.withColumnRenamed("v", "__pseq").filter(
            keep_sentinel("__seq = 2", "__seq", "__pseq")
        )
        assert sorted(r[0] for r in two.collect()) == [2, SENTINEL_SEQ, SENTINEL_SEQ + 3]


class TestChunkedFeed:
    def test_all_null_string_chunk_keeps_its_type(self, spark, tmp_path):
        # the last chunk's strings are all null: written with pandas-inferred
        # types, that column was null/INT32 and stream_from_dir rejected it
        df = spark.createDataFrame([(3, None), (1, "a"), (2, None)], "v int, s string")
        tables = _read(chunked_feed(df, str(tmp_path), 2, ["v"]))
        assert all(t.schema == to_arrow_schema(df.schema) for t in tables)
        assert [t.to_pylist() for t in tables] == [
            [{"v": 1, "s": "a"}, {"v": 2, "s": None}],
            [{"v": 3, "s": None}],
        ]


@pytest.mark.parametrize("k", [0, 1, 5])
def test_sentinel_neutral_values(k):
    schema = T.StructType([
        T.StructField("b", T.BooleanType()),
        T.StructField("l", T.LongType()),
        T.StructField("t", T.TimestampType()),
        T.StructField("__seq", T.LongType()),
        T.StructField("__ts", T.TimestampType()),
    ])
    assert sentinel_row(schema, k) == (
        False, 0, feeds.EPOCH, SENTINEL_SEQ + k, SENTINEL_TS + k * SENTINEL_GAP
    )
