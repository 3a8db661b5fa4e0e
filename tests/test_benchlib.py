"""Measurement-protocol invariants (benchlib): the honest materialization
contract and the nesting-aware ``load_seconds`` that bench.py /
time_query.py depend on."""

from __future__ import annotations

import threading

from pyspark.storagelevel import StorageLevel

from spark_ml_algo_lib_master_tongji_spark import benchlib


def test_materialize_unpersists_fresh_frame_even_on_failure(spark):
    df = spark.range(10)
    assert benchlib.materialize(df) == 10
    assert df.storageLevel == StorageLevel.NONE  # fresh → unpersisted after

    # a frame whose count raises must not stay pinned (round-4 ADVICE)
    from pyspark.sql import functions as F

    bad = spark.range(5).select((F.lit(1) / F.col("id")).alias("x")).where(
        F.raise_error(F.lit("boom")).isNull()
    )
    try:
        benchlib.materialize(bad)
        raised = False
    except Exception:
        raised = True
    assert raised
    assert bad.storageLevel == StorageLevel.NONE


def test_materialize_keeps_caller_cache(spark):
    df = spark.range(7).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        assert benchlib.materialize(df) == 7
        # session-shared derivations returned by a query keep their cache
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist(blocking=False)


def test_materialize_collect_first(spark):
    n, row = benchlib.materialize(spark.range(3), collect_first=True)
    assert n == 3 and row is not None
    n, row = benchlib.materialize(
        spark.range(1).where("id < 0"), collect_first=True
    )
    assert n == 0 and row is None


def test_load_timer_records_outermost_build_only():
    """Builds nest (``copurchase_pairs`` touches ``sym_copurchase`` inside
    its own build): the nested build is counted once, inside the outer
    one, so the recorded load never exceeds the elapsed time."""
    import time

    before = benchlib.load_seconds()
    t0 = time.perf_counter()
    with benchlib.load_timer("outer_test"):
        with benchlib.load_timer("inner_test"):
            time.sleep(0.2)
    wall = time.perf_counter() - t0
    recorded = benchlib.load_seconds() - before
    # counted twice, the 0.2s inner build would record ~2 × wall
    assert 0.2 <= recorded <= wall


def test_load_timer_merges_concurrent_builds_to_wall_clock():
    """Round-14 verdict item 6: thread-pooled derivation builds must report
    wall-clock load (overlapping regions merged), never thread-second sums —
    the sum drove bench's costTime = wall − load negative for pooled rows
    (57.6 thread-seconds of "load" inside a 13.8s query wall)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    n = 4
    started = threading.Barrier(n)
    before = benchlib.load_seconds()

    def build(i: int) -> None:
        with benchlib.load_timer(f"pooled_test_{i}"):
            started.wait(timeout=30)  # all n builds are open at once
            time.sleep(0.2)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n) as ex:
        list(ex.map(build, range(n)))
    wall = time.perf_counter() - t0
    recorded = benchlib.load_seconds() - before

    # The n builds overlap, so their thread-seconds sum to ≥ n × 0.2s; the
    # wall-clock aggregate may never exceed the real elapsed time, which is
    # what makes costTime = wall − load non-negative.
    assert recorded <= wall
    assert recorded >= 0.2  # the merged region is still real time
