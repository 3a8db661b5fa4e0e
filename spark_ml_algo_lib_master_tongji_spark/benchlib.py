"""Shared measurement protocol for bench.py and tools/time_query.py.

Two concerns live here because every timing entry point needs both:

1. **Honest materialization** (``materialize``): persist-then-count forces
   full computation of every output column. A bare ``count()`` lets Catalyst
   eliminate aggregated-unique outer joins (and everything beneath them) —
   e.g. the triangle relation and the dedup canonical-label joins timed as
   ~0.8s while their real computation was 3-18s. The reference's costTime
   includes saving the full output (``PageRankRunner.scala:115``
   ``saveAsTextFile``), so materializing all columns is the faithful
   protocol. Unpersist runs in a ``finally`` so a failing count can never
   leave the failed query's partitions pinned in MEMORY_AND_DISK skewing
   every subsequent measurement (round-4 ADVICE).

2. **loadDataTime / costTime attribution** (``record_load`` /
   ``load_seconds``): the reference times data loading separately from the
   operator (``KMeansRunner.scala:132-133,156``). This engine's analogue of
   "load" is the session-shared derivation build (graph edge lists, feature
   assembly, fitted models): whichever query touches a derivation first pays
   its full materialization, which made per-query numbers run-order-dependent
   (PLANS.md gbt post-mortem: 13.3s cold vs 0.7s shared). The ``derive``
   memo reports each build here; bench diffs ``load_seconds`` around each
   query to split wall time into {load, cost}.
"""

from __future__ import annotations

import contextlib
import threading
import time

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def materialize(df: DataFrame, collect_first: bool = False):
    """Fully materialize ``df`` (all columns) and return its row count —
    or ``(count, first_row_or_None)`` when ``collect_first`` is set (the
    first row is read from the still-persisted frame, so grabbing an
    evaluation scalar costs one cached-partition read, not a recompute).

    Only a fresh (uncached) frame is persisted/unpersisted, so
    session-shared derivations returned directly by a query keep their
    cache for later queries.
    """
    fresh = df.storageLevel == StorageLevel.NONE
    if fresh:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = df.count()
        if collect_first:
            return n, (df.first() if n else None)
        return n
    finally:
        if fresh:
            df.unpersist(blocking=False)


# Wall-clock load-region accounting (round-14 verdict item 6): the anchor
# rows build several derivations CONCURRENTLY from a thread pool, so
# summing per-build durations counted thread-seconds — 57.6s of "load"
# inside a 13.8s query wall, driving costTime = wall − load negative.
# Instead, overlapping builds are merged into one wall-clock region: the
# first build to start (across ALL threads) opens the region, the last to
# finish closes it, and ``load_seconds`` reports total region time — so
# wall − load ≥ 0 holds for pooled rows, and a build nested inside another
# (``copurchase_pairs`` touches ``sym_copurchase`` inside its own build)
# is counted once. The region state is shared by every thread, so it is
# written under a lock (round-5 ADVICE).
_tally_lock = threading.Lock()
_active_builds = 0
_region_start = 0.0
_region_total = 0.0


@contextlib.contextmanager
def load_timer(name: str):
    """Time the build of derivation ``name`` into ``load_seconds``."""
    global _active_builds, _region_start, _region_total
    with _tally_lock:
        _active_builds += 1
        if _active_builds == 1:
            _region_start = time.perf_counter()
    try:
        yield
    finally:
        with _tally_lock:
            _active_builds -= 1
            if _active_builds == 0:
                _region_total += time.perf_counter() - _region_start


def load_seconds() -> float:
    """Cumulative wall-clock seconds spent inside session-shared derivation
    builds so far (overlapping builds merged — see the region note above).
    Counts a still-open region's elapsed time so a mid-build read stays
    monotonic."""
    with _tally_lock:
        total = _region_total
        if _active_builds:
            total += time.perf_counter() - _region_start
        return total
