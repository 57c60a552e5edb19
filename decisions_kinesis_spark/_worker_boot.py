"""Start a Spark Python worker process on the installed pyspark.

The ``_worker_python`` launcher next to this file, which
``session.get_session`` makes a session's Python interpreter, runs this
file by path with the arguments Spark gives its interpreter
(``-m pyspark.daemon pyspark.worker``, ``-m
pyspark.sql.streaming.python_streaming_source_runner``, ...).

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on every worker
``PYTHONPATH``.  The zip holds sources only and zipimport never caches
bytecode, so every worker process compiles pyspark anew (SCALE.md,
"Python process start-up").  When the pyspark that the rest of
``sys.path`` finds is the zip's version, this drops the zip from
``sys.path`` and the process imports that pyspark's cached bytecode;
otherwise ``sys.path`` keeps the zip and the process starts exactly as
``python -m`` would start it.

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

_SPARK_ZIP = os.path.join("python", "lib", "pyspark.zip")
_VERSION = re.compile(rb"""^__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""", re.M)


def _version(source: bytes) -> bytes | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def without_spark_zip(path: list[str]) -> list[str]:
    """``path`` without its ``.../python/lib/pyspark.zip`` entry if the
    pyspark found on the rest of ``path`` has the zip's version;
    otherwise ``path`` itself, also when either version cannot be read."""
    spark_zip = next((p for p in path if p.endswith(_SPARK_ZIP)), None)
    if spark_zip is None:
        return path
    rest = [p for p in path if p != spark_zip]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return path
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            installed = _version(f.read())
        zipped = _version(zipimport.zipimporter(spark_zip).get_data("pyspark/version.py"))
    except (OSError, zipimport.ZipImportError):
        return path
    return rest if installed is not None and installed == zipped else path


def main(argv: list[str]) -> None:
    """Run ``python <argv>`` with the interpreter running this file:
    ``-m <module> args...`` in this process, anything else by exec."""
    if argv[:1] != ["-m"] or len(argv) < 2:
        os.execv(sys.executable, [sys.executable, *argv])
    # what ``python -m`` puts first, in place of this file's directory
    sys.path[0] = os.getcwd()
    sys.path[:] = without_spark_zip(sys.path)
    sys.argv = argv[1:]
    runpy.run_module(argv[1], run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main(sys.argv[1:])
