"""The Python-worker boundary: the per-task zip re-read check
(``zipimport_cache``) and literal tables that need no Python tasks."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from eventflux_engine_spark import zipimport_cache
from eventflux_engine_spark.datamodel import local_df, tools_dim_df
from eventflux_engine_spark.plans import QUERIES

NEEDS_FIX = sys.version_info < (3, 13)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


class TestZipimportCache:
    def test_installed_by_package_import(self):
        assert zipimport_cache.installed() == NEEDS_FIX

    def test_unchanged_archive_is_not_reread_and_rewrite_is_seen(self, tmp_path):
        archive = str(tmp_path / "lib.zip")
        _write_zip(archive, {"zc_first": "X = 1\n"})
        sys.path.insert(0, archive)
        try:
            importlib.invalidate_caches()
            assert importlib.import_module("zc_first").X == 1
            importer = sys.path_importer_cache[archive]
            assert isinstance(importer, zipimport.zipimporter)

            if NEEDS_FIX:
                # the first call after the importer was built reads and
                # records the stamp; later calls reuse that read
                importlib.invalidate_caches()
                before = importer._files
                for _ in range(2):
                    importlib.invalidate_caches()
                    assert importer._files is before  # not re-read

            # rewrite the archive with one more module; bump the mtime so
            # the stamp differs even on a coarse-grained clock
            _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
            st = os.stat(archive)
            os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
            importlib.invalidate_caches()
            assert importlib.import_module("zc_second").Y == 2
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            for m in ("zc_first", "zc_second"):
                sys.modules.pop(m, None)

    def test_removed_archive_is_dropped(self, tmp_path):
        archive = str(tmp_path / "gone.zip")
        _write_zip(archive, {"zc_gone": "Z = 3\n"})
        importer = zipimport.zipimporter(archive)
        importer.invalidate_caches()
        assert importer.find_spec("zc_gone") is not None
        os.remove(archive)
        importer.invalidate_caches()
        assert importer.find_spec("zc_gone") is None

    def test_every_worker_task_has_the_fix(self, spark):
        engine_fn = zipimport_cache.installed

        def report(batches):
            import zipimport

            import pandas as pd

            for _ in batches:
                pass
            # referencing an engine function is what imports the package in
            # the worker, exactly as for every engine operator's UDF
            method = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame(
                {"module": [method.__module__], "installed": [engine_fn()]}
            )

        rows = (
            spark.range(0, 8, numPartitions=8)
            .mapInPandas(report, "module string, installed boolean")
            .collect()
        )
        assert len(rows) == 8
        expected = zipimport_cache.__name__ if NEEDS_FIX else "zipimport"
        assert {(r["module"], r["installed"]) for r in rows} == {(expected, NEEDS_FIX)}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestLiteralTables:
    """Literal tables plan as LocalTableScan, never as a Python-RDD scan."""

    def test_local_df_keeps_schema_and_rows(self, spark):
        from eventflux_engine_spark.datamodel import TOOLS_DIM_ROWS, TOOLS_DIM_SCHEMA

        df = tools_dim_df(spark)
        assert df.schema == TOOLS_DIM_SCHEMA
        assert [tuple(r) for r in df.collect()] == TOOLS_DIM_ROWS
        assert "LocalTableScan" in _plan(df)

    def test_empty_local_df(self, spark):
        df = local_df(spark, [], "q string, num int")
        assert df.schema.simpleString() == "struct<q:string,num:int>"
        assert df.collect() == []
        assert "ExistingRDD" not in _plan(df)

    @pytest.mark.parametrize(
        "name",
        [
            "enrichment_join",
            "enrichment_cost_rollup",
            "in_table_semi",
            "text_bpe_train",
            "events_quantile_histogram",
        ],
    )
    def test_no_site_plans_existing_rdd(self, spark, sf_tiny, name):
        plan = _plan(QUERIES[name].fn(spark, sf_tiny))
        assert "ExistingRDD" not in plan
        assert "LocalTableScan" in plan
