"""SparkSession factory tuned for this engine.

Local mode is the test harness; the settings below are chosen so the
same code runs unchanged on a multi-executor cluster:

- AQE on (runtime coalesce / skew-join re-plan at any scale),
- Arrow on (Pandas-UDF fast path for the few non-JVM operators),
- UTC session timezone (stable oracle comparison vs DuckDB),
- shuffle partitions sized by env (cores locally, per-cluster config
  in production — the engine never hardcodes a cluster-shaped value).

This module also owns all per-session state: ``session_key`` names a
session, ``SessionMemo`` builds a value once per (session, key) and
makes concurrent callers for that key wait for it, ``once`` runs a
setup (conf, data source, function registration) once per session
through one, and ``_SESSION_CONF`` holds the confs query code relies
on.  ``sources.tables.load_table`` and ``sources.pyds.register`` call
``once`` too, so a session built elsewhere (a driver's own builder,
``newSession()``) gets the same setup on first use.  Query code writes
no session conf, except the BPE loop's scoped AQE toggle in
``operators/corpus.py``.  Every ``SessionMemo`` is emptied when any of
them first sees a new SparkContext: its entries belong to stopped
sessions.

The once-per-session setup (``apply_session_conf``) also makes
``_worker_python`` the Python interpreter of the session's context,
unless the caller chose one (``spark.pyspark.python``, or a
``pythonExec`` other than pyspark's default).  Every Python process
Spark then starts for the session (the daemons, their workers, the
streaming source runner) drops Spark's archives from ``sys.path`` and
imports the installed pyspark and py4j from their cached bytecode (see
``_worker_boot.py``), whoever built the session.  The
``lookup_data_sources`` process that the JVM starts with the session
takes its interpreter from the JVM's environment and still imports
from the zips.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from concurrent.futures import Future
from typing import TypeVar

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(8, os.cpu_count() or 8)

#: Session confs that query code relies on, set once per session.
_SESSION_CONF = {
    # timestamp values compare stably against the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # let Python data sources (sources/pyds.py) receive pushFilters;
    # Spark refuses to plan a reader that implements them without it
    "spark.sql.python.filterPushdown.enabled": "true",
}

#: the Python interpreter of every session ``apply_session_conf`` sets up
_WORKER_PYTHON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_python")

#: guards every ``SessionMemo`` and ``_CONTEXT``; never held while a
#: value is built, so builds of different keys run concurrently
_LOCK = threading.Lock()
#: every ``SessionMemo``, and the SparkContext one last saw
_MEMOS: list[SessionMemo] = []
_CONTEXT = None

T = TypeVar("T")


def session_key(spark: SparkSession) -> str:
    """The JVM session's UUID: distinct for every ``newSession()`` and
    for every session of a restarted SparkContext."""
    return spark._jsparkSession.sessionUUID()  # noqa: SLF001


class SessionMemo(dict):
    """Values keyed by ``(session_key, *key)``, each built once.

    Entries are ``Future``s in least-recently-used order: a lookup moves
    its key to the end, and past ``max_entries`` the oldest go.  A
    process runs one SparkContext at a time, so when any memo first
    sees a new one, every entry of every memo belongs to a stopped
    session: all are dropped.  ``newSession()`` siblings share their
    context and keep theirs."""

    def __init__(self, max_entries: int | None = None) -> None:
        super().__init__()
        self.max_entries = max_entries
        _MEMOS.append(self)

    def get_or_build(self, spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
        """Return the value for (session, *key), running ``build()`` on
        the first call.  A thread that asks while another builds the
        key waits for it and gets its value or its exception; a failed
        build is dropped, so the next call builds again.  ``build``
        must not ask for its own key: it would wait on itself."""
        global _CONTEXT
        full = (session_key(spark), *key)
        with _LOCK:
            if spark.sparkContext is not _CONTEXT:
                for memo in _MEMOS:
                    dict.clear(memo)
                _CONTEXT = spark.sparkContext
            fut = self.pop(full, None)
            owner = fut is None
            if owner:
                fut = Future()
            self[full] = fut
            while self.max_entries is not None and len(self) > self.max_entries:
                del self[next(iter(self))]
        if not owner:
            return fut.result()
        try:
            value = build()
        except BaseException as e:
            with _LOCK:
                if self.get(full) is fut:
                    del self[full]
            fut.set_exception(e)
            raise
        fut.set_result(value)
        return value

    def clear(self) -> None:
        with _LOCK:
            super().clear()


#: the setups ``once`` has run (or is running)
_SETUPS = SessionMemo()


def once(spark: SparkSession, name: str, setup: Callable[[], object]) -> None:
    """Run ``setup()`` once per (session, name).  A thread that arrives
    while another runs the same setup waits for it to finish; setups
    with different names run concurrently."""
    _SETUPS.get_or_build(spark, (name,), setup)


def apply_session_conf(spark: SparkSession) -> None:
    """Set ``_SESSION_CONF`` on ``spark`` and route its context's Python
    processes through ``_worker_python``, once per session."""

    def setup() -> None:
        for k, v in _SESSION_CONF.items():
            spark.conf.set(k, v)
        sc = spark.sparkContext
        # UDFs, UDTFs, Python data sources and the streaming source
        # runner take their interpreter from ``pythonExec``; the launcher
        # runs pyspark's default one, so only that one is replaced
        default = os.environ.get("PYSPARK_PYTHON", "python3")
        if sc.pythonExec == default and sc.getConf().get("spark.pyspark.python") is None:
            sc.pythonExec = _WORKER_PYTHON

    once(spark, "conf", setup)


def get_session(
    app_name: str = "decisions-kinesis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` from ``$SPARK_GRAFT_CPUS`` (or all
    cores); on a real cluster pass ``master=None`` with an externally
    configured spark-submit and these session-level confs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # Long many-query sessions (the 244-query bench/oracle sweeps)
        # age without these: even with the UI off, the app status
        # store retains up to 1000 jobs/stages + 100k tasks and the
        # SQL status store up to 1000 executions WITH full plan
        # graphs — steady driver-heap growth and GC pressure across a
        # sweep.  An interactive engine session needs recent history
        # only; trim retention to a working set.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "5000")
        .config("spark.sql.ui.retainedExecutions", "20")
        # ContextCleaner relies on JVM GC to discover unreferenced
        # RDDs/broadcasts/shuffles; the default periodic System.gc()
        # every 30min never fires inside a minutes-long sweep, so
        # shuffle files and broadcast blocks from hundreds of queries
        # linger.  5min keeps cleanup flowing in long sessions at
        # negligible cost (it is a no-op when nothing is collectable).
        .config("spark.cleaner.periodicGC.interval", "5min")
        # keep stdout machine-parseable (bench/driver protocols): the
        # console progress bar writes \r-frames to fd 1
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_session_conf(spark)
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_QUIET_WINDOWEXEC") == "1":
        # Silence WindowExec's per-plan "No Partition Defined" WARN:
        # the engine's unpartitioned frames are all calendar-bounded
        # (≤|days|/|buckets| rows by construction — adjudicated bounded,
        # VERDICT r9/r10), and at 240+ queries the repeated warning is
        # ~90% of a bench/oracle artifact's log tail.  Targeted level
        # override, not a blanket ERROR: every other WARN still shows.
        # Opt-in via env flag (ADVICE r11 #3): only the bench/oracle
        # sweep entry points set it, so an interactive session keeps
        # the perf warning for any future genuinely-unbounded window.
        try:
            jvm = spark._jvm  # noqa: SLF001
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                "org.apache.spark.sql.execution.window.WindowExec",
                jvm.org.apache.logging.log4j.Level.ERROR,
            )
        except Exception:  # noqa: BLE001 - log hygiene must never fail a session
            pass
    return spark
