"""Session-scoped derivation memo: load once, run many algorithms.

The reference loads a graph or feature set once per runner and times the
load apart from the algorithm (edges loaded once, ``graph/Util.scala:106-136``;
loadDataTime vs costTime, ``KMeansRunner.scala:132-133``). The registry and
the driver run many queries against one session, so every shared input —
edge lists, feature assemblies, scalars, fitted models — is built once per
(session, fixture) here and handed to every later caller.

Two entry points:

* ``value(cat, name, build)`` memoizes any driver-side result (a scalar, a
  fitted model, a broadcast-backed index);
* ``frame(cat, name, build)`` memoizes a DataFrame persisted and eagerly
  counted, so its build is paid — and timed — as the load.

Every build runs under ``benchlib.load_timer(name)``, looked up on the module
at call time so a tracing wrapper can replace it. Builds nest (X's build may
pull dependency Y); a nested build is counted once, inside the outer one.

Concurrency: the anchor rows build derivations from a thread pool
(``ml_estimators.ml_est_clf_acc_anchors``). A global guard protects the memo
and the per-key lock table, and each build runs under its per-key lock, so
two threads asking for one derivation never build it twice (double-checked
locking). The dependency graph of builds is a DAG, so per-key locks cannot
deadlock.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from spark_ml_algo_lib_master_tongji_spark import benchlib
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

# (applicationId, sf_dir, name) → built value. Keyed by applicationId, not
# id(spark): a stopped session's id() can be reused by a new session, which
# would hand out cached DataFrames bound to a dead SparkContext (round-1
# ADVICE).
_MEMO: dict[tuple, object] = {}
_GUARD = threading.Lock()
_KEY_LOCKS: dict[tuple, threading.Lock] = {}


def _key_lock(key: tuple) -> threading.Lock:
    with _GUARD:
        return _KEY_LOCKS.setdefault(key, threading.Lock())


def _evict(live_app_id: str) -> None:
    """Drop entries keyed to any session but ``live_app_id``.

    Multi-session processes (pytest creates/stops several sessions) would
    otherwise pin stale DataFrames, scalars, fitted models, and — worst —
    driver-side CSR broadcasts holding O(|E|) numpy arrays for the process
    lifetime (round-4 ADVICE). Eviction is lazy: triggered on the first
    miss under a new applicationId; releasing the Python references is
    sufficient (the dead session's JVM-side blocks died with its
    SparkContext)."""
    with _GUARD:
        for table in (_MEMO, _KEY_LOCKS):
            for key in [k for k in table if k[0] != live_app_id]:
                table.pop(key, None)


def value(cat: Catalog, name: str, build):
    """``build()``'s result, built once per (session, fixture, name)."""
    key = (cat.spark.sparkContext.applicationId, cat.sf_dir, name)
    if key in _MEMO:  # lock-free fast path (CPython dict reads are atomic)
        return _MEMO[key]
    with _key_lock(key):
        if key in _MEMO:
            return _MEMO[key]
        _evict(key[0])
        with benchlib.load_timer(name):
            val = build()
        # Insert under the guard: _evict iterates the memo under _GUARD,
        # and a concurrent unguarded insert could raise "dict changed size
        # during iteration" in the evicting thread.
        with _GUARD:
            _MEMO[key] = val
        return val


def frame(cat: Catalog, name: str, build) -> DataFrame:
    """``build()``'s DataFrame, persisted and materialized once per
    (session, fixture, name).

    Eager materialization: the build IS the reference's loadDataTime
    (``KMeansRunner.scala:132-133``); counting here (one cheap aggregation
    over rows the first consumer needs anyway) makes the load/cost split in
    bench.py real instead of attributing the whole build to whichever
    query's first action touches the memo. If the count fails, the fresh
    persist is released before the exception escapes, or a failed build
    leaves stray MEMORY_AND_DISK partitions pinned for the session (round-5
    ADVICE — same failure-path rule as ``benchlib.materialize``)."""

    def persisted() -> DataFrame:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        try:
            df.count()
        except Exception:
            df.unpersist(blocking=False)
            raise
        return df

    return value(cat, name, persisted)
