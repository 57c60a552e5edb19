"""Stat-keyed zip directory invalidation (decisions_kinesis_spark/_zipcache.py).

``importlib.invalidate_caches()`` runs at the start of every Python
worker task.  On CPython < 3.12 the package replaces
``zipimporter.invalidate_caches`` so an archive's directory is re-read
only when the archive's ``(st_mtime_ns, st_size)`` changed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12+ invalidates zip directories lazily; no replacement installed",
)


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    mod_a, mod_b = "dks_zipcache_mod_a", "dks_zipcache_mod_b"
    _write_zip(archive, [mod_a])
    monkeypatch.syspath_prepend(archive)
    for name in (mod_a, mod_b):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    try:
        assert importlib.import_module(mod_a).NAME == mod_a
        reads: list[str] = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, [mod_a, mod_b])  # new size (and mtime)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(mod_b).NAME == mod_b

        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_every_python_worker_runs_the_stat_keyed_invalidate(spark):
    def probe(_):  # nested, so it is pickled by value
        import os
        import zipimport

        import decisions_kinesis_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        yield os.getpid(), f"{fn.__module__}.{fn.__qualname__}"

    got = spark.sparkContext.parallelize(range(16), 16).mapPartitions(probe).collect()
    assert len(got) == 16
    assert {name for _, name in got} == {
        "decisions_kinesis_spark._zipcache.invalidate_caches"
    }
