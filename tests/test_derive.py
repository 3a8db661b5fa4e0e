"""Session-scoped derivation memo (``derive``): keying, eviction,
build-once under concurrent callers, and the failure path of ``frame``."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spark_ml_algo_lib_master_tongji_spark import derive
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

#: a fixture directory no real query uses, so these tests never share or
#: evict the live session's derivations
_SF = "derive-test-sf"


@pytest.fixture
def memo_cat(spark):
    yield Catalog(spark, _SF)
    for k in [k for k in derive._MEMO if k[1] == _SF]:
        derive._MEMO.pop(k, None)


def test_derive_evicts_dead_sessions(memo_cat):
    """Entries keyed to a stopped session's applicationId are dropped on
    the first miss under a new one (round-4 ADVICE: stale CSR broadcasts
    pinned O(|E|) numpy arrays for the process lifetime); the live
    session's entries stay."""
    live = memo_cat.spark.sparkContext.applicationId
    derive._MEMO[("dead-app", _SF, "x")] = object()
    derive._MEMO[(live, _SF, "kept")] = kept = object()
    derive._evict(live)
    assert not any(k[0] == "dead-app" for k in derive._MEMO)
    assert derive.value(memo_cat, "kept", lambda: pytest.fail("rebuilt")) is kept


def test_value_builds_once_for_concurrent_callers(memo_cat):
    """N threads asking for one name at once: the build runs once and
    every thread gets the same object (the anchor rows build derivations
    from a thread pool). More threads than cores."""
    n = 8
    calls = []
    arrived = threading.Barrier(n)

    def build():
        calls.append(1)
        time.sleep(0.2)  # hold the key lock while the other threads ask
        return object()

    def ask(_):
        arrived.wait(timeout=30)
        return derive.value(memo_cat, "concurrent", build)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the check-then-build steps
    try:
        with ThreadPoolExecutor(max_workers=n) as ex:
            got = list(ex.map(ask, range(n)))
    finally:
        sys.setswitchinterval(switch)
    assert len(calls) == 1
    assert all(g is got[0] for g in got)


def test_frame_failed_count_caches_and_pins_nothing(memo_cat):
    """A build whose eager count raises leaves no memo entry and no
    persisted frame, and the next request builds again."""
    built = []

    def build():
        df = memo_cat.spark.range(5).where(F.raise_error(F.lit("boom")).isNull())
        built.append(df)
        return df

    with pytest.raises(Exception, match="boom"):
        derive.frame(memo_cat, "bad", build)
    assert not any(k[1:] == (_SF, "bad") for k in derive._MEMO)
    assert built[0].storageLevel == StorageLevel.NONE

    good = derive.frame(memo_cat, "bad", lambda: memo_cat.spark.range(3))
    assert good.storageLevel != StorageLevel.NONE
    assert derive.frame(memo_cat, "bad", lambda: pytest.fail("rebuilt")) is good
    good.unpersist(blocking=False)
