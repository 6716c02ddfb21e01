"""Test harness: DuckDB-oracle comparison mirroring the driver's check.

The driver runs each ``queries()[name]`` in Spark and the matching
``oracle_sql()[name]`` in DuckDB (parquet tables pre-registered as views),
then compares row count + schema + order-insensitive value hash. This module
reproduces that comparison for the local pytest loop (reference analog: the
AppRunner golden-output idiom, ``/root/reference/tests/common/mod.rs:31``).
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

from .datamodel import TABLE_NAMES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            # strip tz (duckdb window exprs can yield tz-aware), ns precision
            pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None)
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(4)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("Int64")
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def assert_matches_oracle(
    spark_df: DataFrame, con: duckdb.DuckDBPyConnection, sql: str, name: str = "query"
) -> None:
    got = _normalize(spark_df.toPandas())
    want = _normalize(con.execute(sql).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rowcount spark={len(got)} oracle={len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6)

