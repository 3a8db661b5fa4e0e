"""The driver-side arm of the SimHash-pairs, n-gram-Jaccard and
LSH-bucket-pairs registry rows.

Below a row ceiling and ``pairs.LOCAL_MAX_PAIRS`` the three rows fetch the
raw table once and run numpy kernels on the driver; above either ceiling
they run the distributed self-joins. The registry no longer reaches the
distributed arm at fixture scale, so these tests keep it value-checked:
both arms must return identical rows with identical schemas. They also pin
the pair enumerator's contract and the rows' executed job count.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE

#: (module, row, row ceiling, local rows at SF_SMOKE / SF_ORACLE)
ROWS = (
    ("dedup", "dedup_simhash_pairs", "LOCAL_MAX_DOCS", (185, 115)),
    ("dedup", "dedup_ngram_jaccard", "LOCAL_MAX_DOCS", (28, 25)),
    ("similarity", "sim_lsh_bucket_pairs", "LOCAL_MAX_VECTORS", (9, 7)),
)


def _module(name):
    import importlib

    return importlib.import_module(
        f"spark_ml_algo_lib_master_tongji_spark.operators.{name}"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _forbidden(*_a, **_k):
    raise AssertionError("wrong arm dispatched")


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_ORACLE], ids=["smoke", "oracle"])
@pytest.mark.parametrize(("mod", "name", "ceiling", "n_rows"), ROWS)
def test_local_rows_equal_distributed_arm(
    spark, monkeypatch, sf, mod, name, ceiling, n_rows
):
    """Same registry row on both sides of the ceiling: the driver-side arm
    (the distributed arm's ``spread`` forbidden) and, with the row ceiling
    lowered below the fixture's size, the distributed arm (the pair
    enumerator forbidden)."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    m_ = _module(mod)
    row = getattr(m_, name)
    cat = Catalog(spark, sf)
    with monkeypatch.context() as m:
        m.setattr(m_, "spread", _forbidden)
        local_df = row(cat)
        local = _rows(local_df)
    with monkeypatch.context() as m:
        m.setattr(m_, ceiling, -1)
        m.setattr(m_, "block_pairs", _forbidden)
        dist_df = row(cat)
        distributed = _rows(dist_df)
    assert len(local) == n_rows[sf == SF_ORACLE]
    assert local == distributed
    assert local_df.schema == dist_df.schema


def test_block_pairs_dedups_across_blocks_and_orders_by_id():
    """A pair sharing two blocks is emitted once; i/j follow id order, not
    row order; singleton blocks emit nothing."""
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import block_pairs

    ids = np.array([30, 10, 20, 40])
    # postings: rows 0,1 share blocks 7 and 9; rows 1,2 share block 5;
    # row 3 is alone in block 8
    rows = np.array([0, 1, 0, 1, 1, 2, 3])
    keys = np.array([7, 7, 9, 9, 5, 5, 8])
    i, j = block_pairs(keys, ids, rows)
    assert sorted(zip(ids[i].tolist(), ids[j].tolist())) == [(10, 20), (10, 30)]
    i, j = block_pairs(np.zeros(0, np.int64), np.zeros(0, np.int64))
    assert len(i) == len(j) == 0


def test_block_pairs_ceiling(monkeypatch):
    """Σ C(block, 2) over the ceiling returns None; at the ceiling every
    pair of the block comes back."""
    from spark_ml_algo_lib_master_tongji_spark.operators import pairs

    ids = np.arange(2000)
    keys = np.zeros(2000, np.int64)
    monkeypatch.setattr(pairs, "LOCAL_MAX_PAIRS", 2000 * 1999 // 2 - 1)
    assert pairs.block_pairs(keys, ids) is None
    monkeypatch.setattr(pairs, "LOCAL_MAX_PAIRS", 2000 * 1999 // 2)
    i, j = pairs.block_pairs(keys, ids)
    assert len(i) == 2000 * 1999 // 2
    assert (i < j).all()


def test_local_rows_job_budget(spark, monkeypatch):
    """Executed-counter gate: each row plus ``benchlib.materialize``
    submits at most 5 Spark jobs (the distributed arms submitted 6, 12 and
    8 on the benchmark's corpus) and builds no session derivation. AQE
    stage jobs inherit the job group, so the group's job list is
    complete."""
    from spark_ml_algo_lib_master_tongji_spark import benchlib, derive
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_ORACLE)
    monkeypatch.setattr(derive, "value", _forbidden)
    monkeypatch.setattr(derive, "frame", _forbidden)
    sc = spark.sparkContext
    try:
        for mod, name, _ceiling, _n in ROWS:
            group = f"local-job-budget-{name}"
            sc.setJobGroup(group, name)
            benchlib.materialize(getattr(_module(mod), name)(cat))
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert len(jobs) <= 5, (name, len(jobs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
