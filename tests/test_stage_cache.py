"""Session stage-cache contract (operators/stage_cache.py): memoization,
LRU bound, dead-session eviction, explicit clear — the ADVICE r4
leak-scenario guarantees, asserted — plus the materialization seam
(functions/parallel.py) it builds on."""

from __future__ import annotations

from decisions_kinesis_spark.operators import stage_cache
from decisions_kinesis_spark.session import session_key


def test_stage_cache_memoizes_per_key(spark):
    stage_cache.clear()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).localCheckpoint(eager=True)

    a = stage_cache.get_or_build(spark, "t", "k1", build)
    b = stage_cache.get_or_build(spark, "t", "k1", build)
    assert a is b and calls["n"] == 1
    c = stage_cache.get_or_build(spark, "t", "k2", build)
    assert c is not a and calls["n"] == 2
    stage_cache.clear()


def test_stage_cache_lru_bound(spark):
    stage_cache.clear()
    for i in range(stage_cache._MAX_ENTRIES + 5):
        stage_cache.get_or_build(spark, "bound", f"k{i}", lambda: object())
    assert len(stage_cache._CACHE) <= stage_cache._MAX_ENTRIES
    # the OLDEST keys were evicted, the newest retained
    sk = session_key(spark)
    assert (sk, "bound", "k0") not in stage_cache._CACHE
    assert (
        sk,
        "bound",
        f"k{stage_cache._MAX_ENTRIES + 4}",
    ) in stage_cache._CACHE
    stage_cache.clear()


def test_stage_cache_evicts_dead_session_entries(spark):
    stage_cache.clear()
    stage_cache._CACHE[("dead-app-id", "x", "y")] = "stale"
    stage_cache.get_or_build(spark, "t", "k1", lambda: object())
    assert ("dead-app-id", "x", "y") not in stage_cache._CACHE
    stage_cache.clear()
    assert not stage_cache._CACHE


def test_build_many_returns_spec_order_and_builds_once(spark):
    """build_many (guide §2.6 concurrent stage builds): results come
    back in spec order, each missing key's builder runs exactly once
    even when the same key appears twice in one call, and hits skip
    the pool entirely."""
    import threading

    stage_cache.clear()
    calls: dict[str, int] = {"a": 0, "b": 0, "c": 0}
    lock = threading.Lock()

    def mk(name):
        def build():
            with lock:
                calls[name] += 1
            return f"built:{name}"

        return build

    out = stage_cache.build_many(
        spark,
        [
            ("bm", "a", mk("a")),
            ("bm", "b", mk("b")),
            ("bm", "a", mk("a")),  # duplicate key in one call
            ("bm", "c", mk("c")),
        ],
    )
    assert out == ["built:a", "built:b", "built:a", "built:c"]
    assert calls == {"a": 1, "b": 1, "c": 1}
    # second call: all hits, no builder runs
    out2 = stage_cache.build_many(
        spark, [("bm", n, mk(n)) for n in ("a", "b", "c")]
    )
    assert out2 == ["built:a", "built:b", "built:c"]
    assert calls == {"a": 1, "b": 1, "c": 1}
    stage_cache.clear()


def test_build_many_propagates_builder_error(spark):
    stage_cache.clear()

    def boom():
        raise ValueError("stage exploded")

    import pytest

    with pytest.raises(ValueError, match="stage exploded"):
        stage_cache.build_many(
            spark,
            [("bmerr", "ok", lambda: 1), ("bmerr", "bad", boom)],
        )
    stage_cache.clear()


def test_materialize_many_matches_sequential(spark):
    """materialize_many returns frames with the same rows as
    sequential materialization (only job overlap changes)."""
    from decisions_kinesis_spark.functions.parallel import materialize_many

    a = spark.range(10).selectExpr("id", "id * 2 as two")
    b = spark.range(5).selectExpr("id", "id * 3 as three")
    ca, cb = materialize_many(a, b)
    assert sorted(map(tuple, ca.collect())) == sorted(
        map(tuple, a.collect())
    )
    assert sorted(map(tuple, cb.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_key_locks_bounded_after_eviction(spark):
    """Per-key build locks do not outlive their keys: after more
    distinct keys than the LRU holds, the lock table is bounded too."""
    stage_cache.clear()
    for i in range(stage_cache._MAX_ENTRIES + 10):
        stage_cache.get_or_build(spark, "locks", f"k{i}", lambda: object())
    assert len(stage_cache._KEY_LOCKS) <= stage_cache._MAX_ENTRIES
    stage_cache.clear()


def test_concurrent_get_or_build_stress(spark):
    """More threads than cores race on a few missing keys with a tiny
    switch interval: each key's builder runs exactly once and never
    twice at a time, every caller gets the built value, and the lock
    table drains to empty."""
    import sys
    import threading
    import time

    stage_cache.clear()
    keys = ["k0", "k1", "k2"]
    calls = dict.fromkeys(keys, 0)
    active = dict.fromkeys(keys, 0)
    overlaps = []
    guard = threading.Lock()

    def builder(k):
        def build():
            with guard:
                calls[k] += 1
                active[k] += 1
                if active[k] > 1:
                    overlaps.append(k)
            time.sleep(0.01)
            with guard:
                active[k] -= 1
            return k

        return build

    out = []

    def worker():
        for k in keys:
            out.append(stage_cache.get_or_build(spark, "stress", k, builder(k)))

    threads = [threading.Thread(target=worker) for _ in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert calls == dict.fromkeys(keys, 1) and not overlaps
    assert sorted(out) == sorted(keys * 16)
    assert not stage_cache._KEY_LOCKS
    stage_cache.clear()


def test_materialization_goes_through_the_seam():
    """Every eager materialization and driver thread pool in the package
    lives in functions/parallel.py, so the one place that decides how
    (and how wide) cannot be bypassed by a direct call elsewhere."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "decisions_kinesis_spark"
    seam = pkg / "functions" / "parallel.py"
    direct = re.compile(
        r"\.localCheckpoint\(|\.cache\(\)|\.persist\(|\.checkpoint\(|ThreadPoolExecutor"
    )
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != seam
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if direct.search(line)
    ]
    assert not hits, "route these through functions.parallel:\n" + "\n".join(hits)
