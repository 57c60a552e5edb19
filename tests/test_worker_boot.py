"""Spark's Python processes start without Spark's archives on
``sys.path`` (``_worker_python`` → ``_worker_boot.py``) and import the
installed pyspark and py4j bytecode: the boot's decision on fake
archives, its ``python -m`` semantics, the launcher's exec bit, and
what a UDF task and a ``dks_kinesis`` source runner import, in a
``get_session`` session and in a plain builder's."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from decisions_kinesis_spark import _worker_boot
from decisions_kinesis_spark.session import _WORKER_PYTHON
from decisions_kinesis_spark.sources.pyds import (
    KinesisEnvelopeDataSource,
    KinesisShardLogStreamReader,
    shard_file,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BOOT = _worker_boot.__file__


def _spark_zip(root, version: str | None) -> str:
    """``<root>/python/lib/pyspark.zip`` holding a pyspark ``version``
    (no ``version.py`` when None)."""
    lib = root / "python" / "lib"
    lib.mkdir(parents=True, exist_ok=True)
    path = str(lib / "pyspark.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        if version is not None:
            z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return path


def _py4j_zip(root, version: str) -> str:
    """``<root>/python/lib/py4j-<version>-src.zip``, as Spark names it."""
    lib = root / "python" / "lib"
    lib.mkdir(parents=True, exist_ok=True)
    path = str(lib / f"py4j-{version}-src.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", f"__version__ = '{version}'\n")
    return path


def _jar(root) -> str:
    root.mkdir(parents=True, exist_ok=True)
    path = str(root / "spark-core.jar")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"")
    return path


def _installed(root, version: str, py4j: str | None = None) -> str:
    """A site dir holding pyspark ``version`` and, if given, py4j ``py4j``."""
    for pkg, v in (("pyspark", version), ("py4j", py4j)):
        if v is not None:
            (root / pkg).mkdir(parents=True)
            (root / pkg / "__init__.py").write_text("")
            (root / pkg / "version.py").write_text(f"__version__: str = '{v}'\n")
    return str(root)


def test_same_version_drops_the_zip(tmp_path):
    """The zips of installed versions go, and jars with them."""
    z = _spark_zip(tmp_path / "spark", "4.1.2")
    py4j = _py4j_zip(tmp_path / "spark", "0.10.9.9")
    jar = _jar(tmp_path / "jars")
    site = _installed(tmp_path / "site", "4.1.2", py4j="0.10.9.9")
    other = str(tmp_path / "cwd")
    assert _worker_boot.without_spark_archives([other, z, py4j, jar, site]) == [other, site]


@pytest.mark.parametrize(
    "case",
    [
        "other_version",
        "not_installed",
        "corrupt_zip",
        "no_version_py",
        "no_zip",
        "py4j_other_version",
        "py4j_not_installed",
    ],
)
def test_anything_else_keeps_the_path(tmp_path, case):
    z = _spark_zip(tmp_path / "spark", None if case == "no_version_py" else "4.1.2")
    if case == "corrupt_zip":
        with open(z, "wb") as f:
            f.write(b"not a zip")
    py4j = _py4j_zip(tmp_path / "spark", "0.10.9.9")
    site = _installed(
        tmp_path / "site",
        "4.0.0" if case == "other_version" else "4.1.2",
        py4j={"py4j_other_version": "0.10.9.7", "py4j_not_installed": None}.get(case, "0.10.9.9"),
    )
    path = {
        "not_installed": [z],
        "no_zip": [site],
        "py4j_other_version": [py4j, site],
        "py4j_not_installed": [py4j, site],
    }.get(case, [z, site])
    assert _worker_boot.without_spark_archives(path) == path


def _boot(args, cwd, pythonpath: str) -> str:
    env = {**os.environ, "PYTHONPATH": pythonpath}
    return subprocess.run(
        [sys.executable, BOOT, *args], cwd=cwd, env=env, capture_output=True, text=True,
        check=True, timeout=60,
    ).stdout


def test_dash_m_runs_as_main_from_the_cwd(tmp_path):
    """``-m`` runs the module as ``python -m`` would, with the cwd (not
    the boot's directory) first on ``sys.path``, the archives dropped,
    and the importers start-up made for them evicted."""
    z = _spark_zip(tmp_path / "spark", "4.1.2")
    py4j = _py4j_zip(tmp_path / "spark", "0.10.9.9")
    jar = _jar(tmp_path / "jars")
    site = _installed(tmp_path / "site", "4.1.2", py4j="0.10.9.9")
    (tmp_path / "probe.py").write_text(
        "import json, sys, zipimport, py4j, pyspark\n"
        "print(json.dumps([__name__, sys.argv, sys.path[0], pyspark.__file__, py4j.__file__,"
        " sys.path,"
        " [k for k, v in sys.path_importer_cache.items()"
        " if isinstance(v, zipimport.zipimporter)]]))\n"
    )
    pythonpath = os.pathsep.join([z, py4j, jar, site])
    out = json.loads(_boot(["-m", "probe", "a", "b"], tmp_path, pythonpath))
    name, argv, first, pyspark_file, py4j_file, path, importers = out
    assert (name, argv[1:], first) == ("__main__", ["a", "b"], str(tmp_path))
    assert not {z, py4j, jar} & set(path) and importers == []
    assert argv[0] == str(tmp_path / "probe.py")
    assert pyspark_file == os.path.join(site, "pyspark", "__init__.py")
    assert py4j_file == os.path.join(site, "py4j", "__init__.py")


def test_other_argv_is_execed_unchanged(tmp_path):
    out = _boot(["-c", "import sys; print(sys.argv)", "x", "y"], tmp_path, "")
    assert out.strip() == "['-c', 'x', 'y']"


def test_launcher_is_executable_in_git_and_on_disk():
    rel = os.path.relpath(_WORKER_PYTHON, REPO)
    staged = subprocess.run(
        ["git", "ls-files", "-s", rel], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    assert staged.split()[:1] == ["100755"], staged
    assert os.access(_WORKER_PYTHON, os.X_OK)


def test_udf_task_imports_pyspark_from_bytecode(spark):
    """A task imports pyspark outside any zip, has no jar and no
    ``$SPARK_HOME/python/lib`` zip on ``sys.path``, and holds no
    ``zipimporter`` for its ``importlib.invalidate_caches()`` to re-read."""
    assert spark.sparkContext.pythonExec == _WORKER_PYTHON

    @F.udf
    def probe(_):
        import json
        import sys
        import zipimport

        import pyspark

        cache = sys.path_importer_cache.items()
        importers = [k for k, v in cache if isinstance(v, zipimport.zipimporter)]
        return json.dumps([pyspark.__file__, sys.path, importers])

    got, path, importers = json.loads(spark.range(1).select(probe("id")).first()[0])
    assert ".zip" not in got and got.endswith("__init__.py"), got
    spark_lib = os.path.join("python", "lib")
    assert [p for p in path if p.endswith(".jar") or os.path.dirname(p).endswith(spark_lib)] == []
    assert importers == []


def test_package_import_leaves_zipimport_as_the_stdlib_s():
    """The package, whose ``__init__`` importing ``_worker_boot`` ran,
    patches nothing in zipimport."""
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert zipimport._read_directory.__module__ == "zipimport"  # noqa: SLF001


def test_stream_source_runner_imports_pyspark_from_bytecode(spark, tmp_path):
    """The ``dks_kinesis`` stream reader's ``latestOffset`` runs in the
    source runner process; this subclass reports that process's
    pyspark in its offset, which the query's progress carries back."""

    def shards(offset):
        return {k: v for k, v in offset.items() if k != "pyspark"}

    class Reader(KinesisShardLogStreamReader):
        def latestOffset(self):  # noqa: N802
            import pyspark

            return {**super().latestOffset(), "pyspark": pyspark.__file__}

        def partitions(self, start, end):
            return super().partitions(shards(start), shards(end))

    class Source(KinesisEnvelopeDataSource):
        @classmethod
        def name(cls):
            return "dks_kinesis_runner_probe"

        def streamReader(self, schema):  # noqa: N802
            return Reader(self.options)

    log = tmp_path / "log"
    log.mkdir()
    (log / shard_file(0)).write_text('{"pk": "k", "data": "d"}\n')
    spark.dataSource.register(Source)
    rows = []
    q = (
        spark.readStream.format("dks_kinesis_runner_probe")
        .option("path", str(log))
        .load()
        .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # the progress renders the offset dict as a Python literal
        got = ast.literal_eval(q.lastProgress.sources[0].endOffset)["pyspark"]
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(rows) == 1
    assert ".zip" not in got and got.endswith("__init__.py"), got


def _run_driver(script: str, cwd) -> list:
    """Run ``script`` in a fresh driver process with the repo importable;
    return the JSON its last stdout line holds."""
    pythonpath = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g", "PYTHONPATH": pythonpath}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_plain_builder_session_is_routed_on_first_use(tmp_path, sf_dir):
    """A session the package did not build gets the launcher from
    ``load_table``'s once-per-session setup, and its UDF tasks import
    pyspark and py4j from the installed bytecode."""
    script = (
        "import json\n"
        "from pyspark.sql import SparkSession, functions as F\n"
        "from decisions_kinesis_spark.sources.tables import load_table\n"
        "s = SparkSession.builder.master('local[1]').config('spark.ui.enabled', 'false')"
        ".getOrCreate()\n"
        f"load_table(s, 'orders', {sf_dir!r})\n"
        "where = F.udf(lambda _: json.dumps([__import__(m).__file__ for m in ('pyspark', 'py4j')]))\n"
        "print(json.dumps([s.sparkContext.pythonExec, s.range(1).select(where('id')).first()[0]]))\n"
        "s.stop()\n"
    )
    exec_, files = _run_driver(script, tmp_path)
    assert exec_ == _WORKER_PYTHON
    for got in json.loads(files):
        assert ".zip" not in got and got.endswith("__init__.py"), got


def test_caller_set_interpreter_is_kept(tmp_path):
    """A caller's ``spark.pyspark.python`` is kept, and Python functions
    do not run in the launcher."""
    script = (
        "import json, sys\n"
        "from pyspark.sql import functions as F\n"
        "from decisions_kinesis_spark.session import get_session\n"
        "s = get_session(master='local[1]',"
        " extra_conf={'spark.pyspark.python': sys.executable})\n"
        "sc = s.sparkContext\n"
        "where = F.udf(lambda _: __import__('pyspark').__file__)\n"
        "print(json.dumps([sc.getConf().get('spark.pyspark.python'), sc.pythonExec,"
        " s.range(1).select(where('id')).first()[0]]))\n"
        "s.stop()\n"
    )
    conf, exec_, udf_pyspark = _run_driver(script, tmp_path)
    assert conf == sys.executable
    assert exec_ != _WORKER_PYTHON
    # a plain interpreter starts on Spark's worker path, zip first
    assert ".zip" in udf_pyspark, udf_pyspark
