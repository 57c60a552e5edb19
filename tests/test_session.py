"""Per-session state (session.py): a ``newSession()`` sibling gets its
own relations, temp views, stage memo and confs; the confs are set once
per session, not on every ``load_table``; and queries built from
several threads on one fresh session equal a serial build."""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.conf import RuntimeConfig

from decisions_kinesis_spark.operators import stage_cache
from decisions_kinesis_spark.operators.relational import sql_udf_money_buckets
from decisions_kinesis_spark.session import once, session_key
from decisions_kinesis_spark.sources.tables import load_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from oracle_check import norm_exact  # noqa: E402


def _rows(df) -> Counter:
    return Counter(norm_exact(tuple(r)) for r in df.collect())


def _ts(spark, sf_dir) -> list:
    ev = load_table(spark, "events", sf_dir)
    return [r.ts for r in ev.orderBy("event_id").select("ts").collect()]


def test_session_key_names_the_session_not_the_context(spark):
    s2 = spark.newSession()
    assert session_key(spark) == session_key(spark)
    assert session_key(s2) != session_key(spark)
    assert s2.sparkContext.applicationId == spark.sparkContext.applicationId


def test_once_runs_setup_once_per_session(spark):
    s2 = spark.newSession()
    calls = []
    for s in (spark, s2, spark, s2):
        once(s, "test_once", lambda s=s: calls.append(s))
    assert calls == [spark, s2]


def test_once_under_thread_contention(spark):
    """16 threads race on one (session, name): the setup runs once, and
    no thread returns from ``once`` before it has finished."""
    calls, seen = [], []

    def setup():
        time.sleep(0.05)
        calls.append(1)

    def worker():
        once(spark, "test_once_contended", setup)
        seen.append(len(calls))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert calls == [1] and seen == [1] * 16


def test_sibling_session_owns_its_relations_views_and_stages(spark, sf_dir):
    want = _rows(sql_udf_money_buckets(spark, sf_dir))
    s2 = spark.newSession()
    # its temp view and temporary functions land in s2's own catalog
    assert _rows(sql_udf_money_buckets(s2, sf_dir)) == want
    assert load_table(s2, "orders", sf_dir).sparkSession is s2
    assert load_table(spark, "orders", sf_dir).sparkSession is spark
    stage_cache.clear()
    built = []
    stage_cache.get_or_build(spark, "sibling", "k", lambda: built.append(spark))
    stage_cache.get_or_build(s2, "sibling", "k", lambda: built.append(s2))
    assert built == [spark, s2]
    stage_cache.clear()


def test_session_conf_set_once_not_per_load_table(spark, sf_dir, monkeypatch):
    want = _ts(spark, sf_dir)
    s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    got = _ts(s2, sf_dir)
    assert s2.conf.get("spark.sql.session.timeZone") == "UTC"
    assert got == want
    sets = []
    real_set = RuntimeConfig.set

    def counting_set(self, key, value):
        sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", counting_set)
    for i in range(20):
        load_table(s2, ("events", "orders")[i % 2], sf_dir)
    assert sets == []


THREAD_QUERIES = (
    "flagship_premium_filter",
    "q1_pricing_summary",
    "pyds_kinesis_shard_scan",
    "udtf_chunk_documents",
    "sql_udf_money_buckets",
    "window_sessionize_events",
)


def test_threaded_build_on_fresh_session_equals_serial(spark, sf_dir):
    """Each query's once-per-session setups (confs, ``dks_kinesis``,
    the UDTF, the SQL functions) run inside the threads."""
    import __spark_entry__ as entry

    queries = entry.queries()
    serial = {q: _rows(queries[q](spark, sf_dir)) for q in THREAD_QUERIES}
    fresh = spark.newSession()
    with ThreadPoolExecutor(max_workers=4) as pool:
        threaded = dict(
            zip(
                THREAD_QUERIES,
                pool.map(lambda q: _rows(queries[q](fresh, sf_dir)), THREAD_QUERIES),
            )
        )
    assert threaded == serial
