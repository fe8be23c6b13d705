"""The package keeps pyspark's per-task ``importlib.invalidate_caches()``
from re-reading every cached zip archive's directory in the Python
workers (CPython < 3.13; see cor_asv_ann_spark/__init__.py)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import cor_asv_ann_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 made zipimporter.invalidate_caches lazy"
)


def test_workers_keep_zip_directories(spark):
    """Every worker that ran one of the package's UDF closures has the
    no-op installed, across many tasks."""

    def report(batches):
        import zipimport

        import pandas as pd

        import cor_asv_ann_spark  # noqa: F401 — what unpickling a UDF does

        noop = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"noop": [noop.__module__ + "." + noop.__qualname__]})

    rows = spark.range(0, 64, numPartitions=16).mapInPandas(report, "noop string").collect()
    assert len(rows) == 16
    assert {r.noop for r in rows} == {"cor_asv_ann_spark._keep_zip_directory"}


def test_zip_added_after_patch_still_imports(tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches is cor_asv_ann_spark._keep_zip_directory
    archive = tmp_path / "late.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("late_zip_mod.py", "VALUE = 42\n")
    monkeypatch.syspath_prepend(str(archive))
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("late_zip_mod").VALUE == 42
    finally:
        sys.modules.pop("late_zip_mod", None)
