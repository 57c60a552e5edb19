"""Start a Spark Python process without Spark's archives on ``sys.path``.

The ``_worker_python`` launcher next to this file, which
``session.apply_session_conf`` makes every session's Python interpreter,
runs this file by path with the arguments Spark gives its interpreter
(``-m pyspark.daemon pyspark.worker``, ``-m
pyspark.sql.streaming.python_streaming_source_runner``, ...).

Spark puts archives on every worker ``PYTHONPATH``:
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip next to it and a
Spark jar.  zipimport never caches bytecode, so a process importing
pyspark or py4j from a zip compiles it anew (SCALE.md, "Python process
start-up"), and on CPython < 3.12 every task's
``importlib.invalidate_caches()`` re-reads the directory of each
archive's ``zipimporter`` (SCALE.md, "Python worker per-task fixed
cost").  Before it runs the module, this drops from ``sys.path``, and
evicts from ``sys.path_importer_cache``:

- every ``.jar`` entry, which holds no Python;
- each ``.../python/lib`` zip whose package (``pyspark``, ``py4j``) the
  rest of ``sys.path`` finds at the zip's version, so the process
  imports that package's cached bytecode.  A zip whose package is not
  installed, has another version, or whose version cannot be read
  stays, and the process imports from it as ``python -m`` would.

Standard library only: run by path, it must not run the package
``__init__``, which imports pyspark.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipimport
from importlib.machinery import PathFinder

_SPARK_LIB = os.path.join("python", "lib")
_VERSION = re.compile(rb"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _version(source: bytes) -> bytes | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zipped_package(entry: str) -> str | None:
    """``pyspark`` for ``.../python/lib/pyspark.zip``, ``py4j`` for
    ``.../python/lib/py4j-<version>-src.zip``; None for anything else."""
    lib, name = os.path.split(entry)
    if not (lib.endswith(_SPARK_LIB) and name.endswith(".zip")):
        return None
    return name[: -len(".zip")].split("-")[0]


def _installed_at_zip_version(package: str, archive: str, path: list[str]) -> bool:
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            installed = _version(f.read())
        zipped = _version(zipimport.zipimporter(archive).get_data(f"{package}/version.py"))
    except (OSError, zipimport.ZipImportError):
        return False
    return installed is not None and installed == zipped


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without its ``.jar`` entries and without each Spark zip
    whose package the rest of ``path`` finds at the zip's version."""
    zips = {p: pkg for p in path if (pkg := _zipped_package(p))}
    rest = [p for p in path if p not in zips and not p.endswith(".jar")]
    return [
        p
        for p in path
        if p in rest or (p in zips and not _installed_at_zip_version(zips[p], p, rest))
    ]


def main(argv: list[str]) -> None:
    """Run ``python <argv>`` with the interpreter running this file:
    ``-m <module> args...`` in this process, anything else by exec."""
    if argv[:1] != ["-m"] or len(argv) < 2:
        os.execv(sys.executable, [sys.executable, *argv])
    # what ``python -m`` puts first, in place of this file's directory
    sys.path[0] = os.getcwd()
    kept = without_spark_archives(sys.path)
    # start-up may already have made importers for the dropped archives
    # and their packages (``<archive>/<package>``)
    dropped = [p for p in sys.path if p not in kept]
    inside = tuple(p + os.sep for p in dropped)
    for key in [k for k in sys.path_importer_cache if k in dropped or k.startswith(inside)]:
        del sys.path_importer_cache[key]
    sys.path[:] = kept
    sys.argv = argv[1:]
    runpy.run_module(argv[1], run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main(sys.argv[1:])
