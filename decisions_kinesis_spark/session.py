"""SparkSession factory tuned for this engine.

Local mode is the test harness; the settings below are chosen so the
same code runs unchanged on a multi-executor cluster:

- AQE on (runtime coalesce / skew-join re-plan at any scale),
- Arrow on (Pandas-UDF fast path for the few non-JVM operators),
- UTC session timezone (stable oracle comparison vs DuckDB),
- shuffle partitions sized by env (cores locally, per-cluster config
  in production — the engine never hardcodes a cluster-shaped value).

This module also owns all per-session state: ``session_key`` names a
session, ``once`` runs a setup (conf, data source, function
registration) once per session, and ``_SESSION_CONF`` holds the confs
query code relies on.  ``sources.tables.load_table`` and
``sources.pyds.register`` call ``once`` too, so a session built
elsewhere (a driver's own builder, ``newSession()``) gets the same
setup on first use.  Query code writes no session conf, except the BPE
loop's scoped AQE toggle in ``operators/corpus.py``.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(8, os.cpu_count() or 8)

#: Session confs that query code relies on, set once per session.
_SESSION_CONF = {
    # timestamp values compare stably against the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # Older fixture generations stored events.ts as TIMESTAMP(NANOS);
    # Spark reads those as long-nanos with this flag, converted back to
    # a timestamp in sources.tables.load_table.  Current fixtures store
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) and do not need it.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # let Python data sources (sources/pyds.py) receive pushFilters;
    # Spark refuses to plan a reader that implements them without it
    "spark.sql.python.filterPushdown.enabled": "true",
}

_DONE: set[tuple[str, str]] = set()
#: re-entrant, so a setup may itself call ``once``
_ONCE_LOCK = threading.RLock()


def session_key(spark: SparkSession) -> str:
    """The JVM session's UUID: distinct for every ``newSession()`` and
    for every session of a restarted SparkContext."""
    return spark._jsparkSession.sessionUUID()  # noqa: SLF001


def once(spark: SparkSession, name: str, setup: Callable[[], object]) -> None:
    """Run ``setup()`` once per (session, name).  A thread that arrives
    while another runs the same setup waits for it to finish."""
    key = (session_key(spark), name)
    with _ONCE_LOCK:
        if key not in _DONE:
            setup()
            _DONE.add(key)


def apply_session_conf(spark: SparkSession) -> None:
    """Set ``_SESSION_CONF`` on ``spark``, once per session."""

    def setup() -> None:
        for k, v in _SESSION_CONF.items():
            spark.conf.set(k, v)

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
    if extra_conf:
        for k, v in extra_conf.items():
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
