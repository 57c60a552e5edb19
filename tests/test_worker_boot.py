"""Spark's Python processes start on the installed pyspark's bytecode
(``_worker_python`` → ``_worker_boot.py``), not on ``pyspark.zip``'s
sources: the boot's decision on fake zips, its ``python -m`` semantics,
the launcher's exec bit, and what a UDF task and a ``dks_kinesis``
source runner import."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile

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
    lib.mkdir(parents=True)
    path = str(lib / "pyspark.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        if version is not None:
            z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return path


def _installed(root, version: str) -> str:
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


def test_same_version_drops_the_zip(tmp_path):
    z = _spark_zip(tmp_path / "spark", "4.1.2")
    site = _installed(tmp_path / "site", "4.1.2")
    other = str(tmp_path / "cwd")
    assert _worker_boot.without_spark_zip([other, z, site]) == [other, site]


@pytest.mark.parametrize(
    "case", ["other_version", "not_installed", "corrupt_zip", "no_version_py", "no_zip"]
)
def test_anything_else_keeps_the_path(tmp_path, case):
    z = _spark_zip(tmp_path / "spark", None if case == "no_version_py" else "4.1.2")
    if case == "corrupt_zip":
        with open(z, "wb") as f:
            f.write(b"not a zip")
    site = _installed(tmp_path / "site", "4.0.0" if case == "other_version" else "4.1.2")
    path = {"not_installed": [z], "no_zip": [site]}.get(case, [z, site])
    assert _worker_boot.without_spark_zip(path) is path


def _boot(args, cwd, pythonpath: str) -> str:
    env = {**os.environ, "PYTHONPATH": pythonpath}
    return subprocess.run(
        [sys.executable, BOOT, *args], cwd=cwd, env=env, capture_output=True, text=True,
        check=True, timeout=60,
    ).stdout


def test_dash_m_runs_as_main_from_the_cwd(tmp_path):
    """``-m`` runs the module as ``python -m`` would, with the cwd (not
    the boot's directory) first on ``sys.path``, and the zip dropped."""
    z = _spark_zip(tmp_path / "spark", "4.1.2")
    site = _installed(tmp_path / "site", "4.1.2")
    (tmp_path / "probe.py").write_text(
        "import json, sys, pyspark\n"
        "print(json.dumps([__name__, sys.argv, sys.path[0], pyspark.__file__,"
        " [p for p in sys.path if p.endswith('.zip') and 'pyspark' in p]]))\n"
    )
    out = json.loads(_boot(["-m", "probe", "a", "b"], tmp_path, f"{z}:{site}"))
    name, argv, first, pyspark_file, zips = out
    assert (name, argv[1:], first, zips) == ("__main__", ["a", "b"], str(tmp_path), [])
    assert argv[0] == str(tmp_path / "probe.py")
    assert pyspark_file == os.path.join(site, "pyspark", "__init__.py")


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
    assert spark.sparkContext.pythonExec == _WORKER_PYTHON
    where = F.udf(lambda _: __import__("pyspark").__file__)
    got = spark.range(1).select(where("id")).first()[0]
    assert ".zip" not in got and got.endswith("__init__.py"), got


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
    pythonpath = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g", "PYTHONPATH": pythonpath}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    conf, exec_, udf_pyspark = json.loads(out.stdout.strip().splitlines()[-1])
    assert conf == sys.executable
    assert exec_ != _WORKER_PYTHON
    # a plain interpreter starts on Spark's worker path, zip first
    assert ".zip" in udf_pyspark, udf_pyspark
