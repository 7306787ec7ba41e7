"""The Python worker daemon (``pyworker``): unchanged zip archives keep
their directory across ``importlib.invalidate_caches()``, changed or
deleted ones are handled as before, and the engine's workers run it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from mapreduce_hadoop_spark import pyworker


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(monkeypatch, tmp_path):
    """A zip of one module on ``sys.path``, imported through the installed
    hook; the import state is restored afterwards."""
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pyworker_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    pyworker.install()
    assert zipimport.zipimporter not in sys.path_hooks
    assert importlib.import_module("pyworker_probe_a").X == 1
    yield path
    for name in ("pyworker_probe_a", "pyworker_probe_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_keeps_its_directory(archive):
    finder = sys.path_importer_cache[archive]
    assert type(finder) is pyworker.StableZipImporter
    files = finder._files
    importlib.invalidate_caches()
    assert finder._files is files


def test_rewritten_archive_is_reread(archive):
    _write_zip(archive, {"pyworker_probe_a": "X = 1\n", "pyworker_probe_b": "Y = 2\n"})
    with pytest.raises(ImportError):
        importlib.import_module("pyworker_probe_b")
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_probe_b").Y == 2


def test_deleted_archive_does_not_raise(archive):
    os.remove(archive)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[archive]._files == {}


def test_workers_run_stable_zip_finders(spark):
    """``session.DEFAULT_CONF`` reaches the workers: every zip finder a
    task sees was made by the installed hook."""

    def zip_finders(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "name": [
                    type(f).__name__
                    for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)
                ]
            }
        )

    rows = spark.range(0, 4, 1, 4).mapInPandas(zip_finders, "name string").collect()
    assert rows
    assert {r["name"] for r in rows} == {"StableZipImporter"}
