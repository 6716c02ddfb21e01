"""Table loads read their schema from the Parquet footer, without a Spark job.

``datamodel.read_parquet`` (behind ``load_table`` and the ``parquet`` table
connector) must give exactly the schema Spark's own inference gives, fire
no Spark job for one Parquet file, and leave every other input (a
directory, INT96, unsigned ints, ns timestamps, a file Spark wrote) to
Spark's inference.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eventflux_engine_spark import datamodel
from eventflux_engine_spark.datamodel import TABLE_NAMES, load_table, read_parquet
from eventflux_engine_spark.plans import registry
from eventflux_engine_spark.streaming.registry import create_table
from eventflux_engine_spark.testing import count_jobs

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
import gen_testdata  # noqa: E402


@pytest.fixture(scope="module")
def generated(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("gen") / "sf")
    gen_testdata.gen(0.001, out, seed=7)
    return out


def _outcome(make):
    """The schema ``make()`` reads, or the kind of error it raises."""
    try:
        return make().schema
    except Exception as e:  # the error is the outcome being compared
        return type(e).__name__, getattr(e, "getCondition", lambda: None)()


def _sf_dirs(sf_tiny, generated):
    """The test data sets next to ``sf_tiny`` that exist, and ``generated``."""
    dirs = [os.path.join(os.path.dirname(sf_tiny), f"sf{sf}") for sf in ("0.001", "0.01", "0.1")]
    return [d for d in dirs if os.path.isdir(d)] + [generated]


def test_footer_schema_equals_spark_inference(spark, sf_tiny, generated):
    for sf_dir in _sf_dirs(sf_tiny, generated):
        for name in TABLE_NAMES:
            path = f"{sf_dir}/{name}.parquet"
            assert datamodel._footer_schema(path) is not None, path
            assert load_table(spark, sf_dir, name).schema == spark.read.parquet(path).schema, path


def test_load_table_fires_no_job(spark, sf_tiny, generated):
    for sf_dir in _sf_dirs(sf_tiny, generated):
        for name in TABLE_NAMES:
            _, jobs = count_jobs(spark, load_table, spark, sf_dir, name)
            assert jobs == 0, (sf_dir, name)
    # the counter sees the inference job a plain read fires
    _, jobs = count_jobs(spark, spark.read.parquet, f"{generated}/events.parquet")
    assert jobs >= 1


def test_transcripts_df_builds_without_a_job(spark, generated):
    _, jobs = count_jobs(spark, datamodel.transcripts_df, spark, generated)
    assert jobs == 0


def _typed_table() -> pa.Table:
    """One column of every type in the verified set, NULLs included, and
    a required column and list element, which Spark reads as nullable."""
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 678000)
    table = pa.table({
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, None], pa.int16()),
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, None], pa.int64()),
        "f32": pa.array([1.5, None], pa.float32()),
        "f64": pa.array([1.5, None], pa.float64()),
        "s": pa.array(["a", None], pa.string()),
        "b": pa.array([b"a", None], pa.binary()),
        "flag": pa.array([True, None], pa.bool_()),
        "d": pa.array([dt.date(2024, 1, 2), None], pa.date32()),
        "ts_ms": pa.array([ts, None], pa.timestamp("ms")),
        "ts_us": pa.array([ts, None], pa.timestamp("us")),
        "ts_utc": pa.array([ts, None], pa.timestamp("us", tz="UTC")),
        "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
        "dec_wide": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(30, 2)),
        "xs": pa.array([[1, None], None], pa.list_(pa.int64())),
        "st": pa.array(
            [{"x": 1, "ys": ["a"]}, None],
            pa.struct([pa.field("x", pa.int32(), nullable=False), ("ys", pa.list_(pa.string()))]),
        ),
    })
    table = table.append_column(pa.field("req", pa.int64(), nullable=False), pa.array([1, 2]))
    xs_req = pa.list_(pa.field("element", pa.int64(), nullable=False))
    return table.append_column("xs_req", pa.array([[1], None], xs_req))


def test_verified_types_and_ntz_conf(spark, tmp_path):
    path = str(tmp_path / "typed.parquet")
    pq.write_table(_typed_table(), path)
    assert datamodel._footer_schema(path) is not None
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    try:
        for ntz in ("true", "false"):
            spark.conf.set(key, ntz)
            _, jobs = count_jobs(spark, read_parquet, spark, path)
            assert jobs == 0
            assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, ntz
    finally:
        spark.conf.set(key, before)
    assert read_parquet(spark, path).collect() == spark.read.parquet(path).collect()


def _write_unverified(tmp_path) -> dict[str, str]:
    paths = {}
    ts = pa.array([dt.datetime(2024, 1, 2, 3, 4, 5, 123456)], pa.timestamp("ns"))
    paths["int96"] = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"t": ts}), paths["int96"], use_deprecated_int96_timestamps=True)
    paths["uint32"] = str(tmp_path / "uint32.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2**32 - 1], pa.uint32())}), paths["uint32"])
    paths["ns"] = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"t": ts}), paths["ns"], version="2.6")
    paths["dir"] = str(tmp_path / "dir")
    os.makedirs(paths["dir"])
    for i in range(2):
        pq.write_table(pa.table({"a": pa.array([i], pa.int64())}), f"{paths['dir']}/p{i}.parquet")
    return paths


def _spark_written(spark, tmp_path) -> str:
    """One part file written by ``df.write.parquet``; its footer holds the
    schema Spark wrote it with, here a TIMESTAMP_NTZ column."""
    out = str(tmp_path / "spark_written")
    spark.sql("SELECT 1 AS a, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS t").coalesce(1).write.parquet(
        out
    )
    [part] = glob.glob(f"{out}/part-*.parquet")
    return part


def test_unverified_inputs_keep_spark_inference(spark, tmp_path):
    paths = _write_unverified(tmp_path)
    paths["spark_written"] = _spark_written(spark, tmp_path)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    try:
        for ntz in ("true", "false"):
            spark.conf.set(key, ntz)
            for case, path in paths.items():
                assert datamodel._footer_schema(path) is None, case
                assert _outcome(lambda: read_parquet(spark, path)) == _outcome(
                    lambda: spark.read.parquet(path)
                ), (case, ntz)
    finally:
        spark.conf.set(key, before)


def test_parquet_table_connector(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(_typed_table(), path)
    df, jobs = count_jobs(spark, create_table, "parquet", spark, {"path": path})
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    directory = _write_unverified(tmp_path)["dir"]
    df, jobs = count_jobs(spark, create_table, "parquet", spark, {"path": directory})
    assert jobs >= 1
    assert df.schema == spark.read.parquet(directory).schema


def test_registered_query_builds_under_its_name(spark, sf_tiny):
    seen = []

    def probe(spark, sf_dir):
        seen.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return load_table(spark, sf_dir, "region")

    registry.register("__probe_build_name", None)(probe)
    try:
        fn = registry.QUERIES["__probe_build_name"].fn
        sc = spark.sparkContext
        fn(spark, sf_tiny)
        assert sc.getLocalProperty("spark.job.description") is None
        sc.setJobDescription("caller span")
        try:
            fn(spark, sf_tiny)
            assert sc.getLocalProperty("spark.job.description") == "caller span"
        finally:
            sc.setJobDescription(None)
    finally:
        del registry.QUERIES["__probe_build_name"]
    assert seen == ["__probe_build_name:build", "caller span"]
