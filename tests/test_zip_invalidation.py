"""The engine's stat-keyed ``zipimporter.invalidate_caches``: PySpark's
worker invalidates import caches before every task, and before 3.13 each
zipimporter then re-reads its whole archive directory. The engine's
replacement re-reads an archive only when its mtime or size changed."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

import ecg_feature_engineering_spark  # noqa: F401  (installs the fix)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's invalidate_caches only drops the cached directory")


def _write(archive, name: str, value: str) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    name = f"zipmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write(archive, name, "1")
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(name).VALUE == 1
        monkeypatch.setattr(zipimport, "_read_directory", counted)
        # the first invalidation keys the importer by the archive's stat
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        # new content, new size: the next invalidation re-reads it once
        _write(archive, name, "2222")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        del sys.modules[name]
        assert importlib.import_module(name).VALUE == 2222
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop(name, None)


def test_python_workers_use_stat_keyed_invalidation(spark):
    """Every worker that unpickles an engine function imports the package,
    which installs the fix there too."""
    from ecg_feature_engineering_spark import contract

    contract.ensure_workers_can_import(spark)

    def probe(batches):
        import zipimport

        import pandas as pd

        import ecg_feature_engineering_spark  # noqa: F401
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"module": [fn.__module__],
                                "stat_keyed": [getattr(fn, "stat_keyed",
                                                       False)]})

    rows = (spark.range(0, 2, 1, 2)
            .mapInPandas(probe, "module string, stat_keyed boolean")
            .collect())
    assert len(rows) == 2
    assert {(r.module, r.stat_keyed) for r in rows} == {
        ("ecg_feature_engineering_spark", True)}
