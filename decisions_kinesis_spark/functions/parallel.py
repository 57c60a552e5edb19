"""Driver-side parallelism: the materialization seam, the driver pool,
and partition-count guards for compute-heavy operators.

``materialize`` / ``materialize_many`` (and, where a join needs the
stored frame's partitioning, ``cached``) are the only way package code
stores an intermediate read by several consumers, and
``_run_concurrently`` is the only driver thread pool (shared with
``stage_cache.build_many``); tests/test_stage_cache.py fails on any
direct ``localCheckpoint`` / ``cache`` / pool elsewhere.

A small parquet file arrives as one input partition; an operator doing
real per-row work (md5 per char position, per-pair popcounts) would
then run single-core no matter how many executors exist.  At 100 TB
inputs are already well-partitioned and this is a no-op; on small
inputs it trades one tiny shuffle for full-cluster compute.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    sc = df.sparkSession.sparkContext
    want = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


#: width of the one driver pool that overlaps independent Spark jobs.
#: 6 (r14): at 4, the 5-gate funnel and the 8-tail recall composition
#: serialized their overflow specs behind the pool — measured
#: interleaved ×4, corpus_funnel_report best 3.30 → 3.03 s.  A handful
#: of in-flight jobs is plenty; more just fight for executor slots.
_POOL_WIDTH = 6


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` once so every later read scans the
    stored rows instead of replaying its plan — the one place that
    decides HOW (local checkpoint: executor block storage, lineage
    truncated).  Runs one Spark job now; blocks are freed by the
    ContextCleaner once the frame's refs drop."""
    return df.localCheckpoint(eager=True)


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Yield ``df`` cached (filled by its first action) and unpersist it
    when the block exits, error or not.  Use it instead of
    ``materialize`` only where a consumer relies on the frame's output
    partitioning: a checkpoint taken under AQE plans as
    UnknownPartitioning (the adaptive root exposes none), so a keyed
    join on it re-shuffles the frame every time, while AQE reads a
    cached stage's actual partitioning and plans no exchange."""
    df = df.cache()
    try:
        yield df
    finally:
        df.unpersist()


def _run_concurrently(
    spark: SparkSession, thunks: Sequence[Callable[[], object]]
) -> list:
    """Run independent thunks on one small driver pool (guide §2.6 —
    overlap independent jobs: one job's straggler tail back-fills with
    the next job's tasks instead of serializing whole jobs).  Results
    come back in input order; the first thunk error (in input order)
    is raised verbatim.  Threads inherit the caller's job tags/local
    properties."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    wrap = inheritable_thread_target(spark)
    if not callable(wrap):  # classic mode (PYSPARK_PIN_THREAD=false):
        wrap = lambda f: f  # the session form returns the session itself
    with ThreadPoolExecutor(max_workers=min(len(thunks), _POOL_WIDTH)) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futures]


def materialize_many(*dfs: DataFrame) -> list[DataFrame]:
    """``materialize`` several INDEPENDENT frames with their jobs
    overlapped.  Values are identical to sequential materialization —
    only job overlap changes.  Callers must pass frames with no data
    dependency on each other."""
    if not dfs:
        return []
    return _run_concurrently(
        dfs[0].sparkSession, [lambda d=d: materialize(d) for d in dfs]
    )


def repartition_for_python(df: DataFrame, *cols: str) -> DataFrame:
    """Keyed repartition sized for a PYTHON-COMPUTE-BOUND stage.

    AQE coalesces a plain keyed exchange (``REPARTITION_BY_COL`` /
    required distribution) by BYTES — correct for shuffle-bound JVM
    stages, wrong for a stage whose cost is per-row Python (a UDTF /
    grouped pandas consumer): a few MB of input coalesces to 1-3 tasks
    and the Python eval serializes on that many cores.  An explicit
    partition count plans ``REPARTITION_BY_NUM``, which AQE leaves
    alone, and it satisfies the downstream operator's clustered
    distribution so no second exchange appears (verified in plans).

    The count is scale-adaptive, never a local constant: at least one
    wave of the cluster (``defaultParallelism``), growing with the
    optimizer's input-size estimate at the session's advisory
    partition size — so a 100 TB input still gets bytes-proportional
    partitioning while a fixture-sized input gets full-cluster
    parallelism.  Same rows in every group either way: partitioning
    never changes values, only placement.

    Exchange-count contract: the downstream UDTF plans its own
    ``REPARTITION_BY_COL`` exchange at exactly
    ``spark.sql.shuffle.partitions``, and EnsureRequirements elides it
    only when the child partitioning matches INCLUDING the partition
    count (HashPartitioning.semanticEquals).  So the explicit exchange
    is planned at exactly that count — one exchange, never two — and
    when the session's shuffle setting is BELOW the wanted Python
    width, the pre-repartition is skipped outright: the UDTF's own
    exchange would re-partition the rows regardless, so an explicit
    one could only add a second full shuffle without widening the
    Python stage (that session's width is the shuffle setting the
    operator owner chose).
    """
    import math

    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        advisory = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
                )
            )
        )
        by_bytes = math.ceil(size / max(1, advisory))
    except Exception:  # stats unavailable — fall back to one wave
        by_bytes = 0
    want = max(sc.defaultParallelism, by_bytes)
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" on vendor runtimes: the elision
        # contract can't be checked — degrade to the plain wanted width
        return df.repartition(want, *cols)
    if sp < want:
        return df
    return df.repartition(sp, *cols)
