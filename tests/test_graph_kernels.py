"""The CSR kernel arm of the co-purchase PageRank / CC registry rows.

Below ``ADJ_BC_MAX_EDGES`` the four rows run driver-side numpy loops over
the session CSR; above it they run the distributed supersteps. The
registry no longer reaches the distributed arm at fixture scale, so these
tests keep it value-checked: both arms must return identical rows. They
also pin the kernel's fixpoint contract and the rows' executed job count.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_ORACLE

ROWS = (
    "graph_pagerank",
    "graph_pagerank_personalized",
    "graph_trustrank",
    "graph_connected_components",
)


@pytest.fixture(scope="module")
def cat(spark):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    return Catalog(spark, SF_ORACLE)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _path_csr(n):
    """Symmetric CSR of the path 0 - 1 - … - (n-1), sorted slices."""
    nbrs = []
    indptr = [0]
    for v in range(n):
        nbrs += [u for u in (v - 1, v + 1) if 0 <= u < n]
        indptr.append(len(nbrs))
    return np.array(indptr, np.int64), np.array(nbrs, np.int32)


@pytest.mark.parametrize("name", ROWS)
def test_kernel_rows_equal_distributed_arm(cat, monkeypatch, name):
    """Same registry row on both sides of the ceiling: the kernel arm (no
    ``iterate`` call allowed) and, with the ceiling lowered below the
    fixture's edge count, the distributed arm exactly as the registry ran
    it before the kernel existed (no kernel call allowed)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    row = getattr(graph, name)

    def forbidden(*_a, **_k):
        raise AssertionError("wrong arm dispatched")

    with monkeypatch.context() as m:
        m.setattr(graph, "iterate", forbidden)
        kernel = _rows(row(cat))
    with monkeypatch.context() as m:
        m.setattr(graph, "ADJ_BC_MAX_EDGES", -1)
        m.setattr(graph, "_copurchase_kernel_rows", forbidden)
        distributed = _rows(row(cat))
    assert len(kernel) == graph.copurchase_n_verts(cat)
    assert kernel == distributed


def test_min_label_fixpoint_budget_guard():
    """A 30-vertex path has diameter 29: a 10-round budget must raise like
    ``iterate(verify_fixpoint=…)``, a 40-round one converges to label 0."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
    )

    indptr, nbrs = _path_csr(30)
    with pytest.raises(NotConvergedError):
        graph._min_label_fixpoint(indptr, nbrs, n_iter=10)
    labels = graph._min_label_fixpoint(indptr, nbrs, n_iter=40)
    assert labels.tolist() == [0] * 30


def test_min_label_fixpoint_exact_budget_passes():
    """Budget == rounds to the fixed point (the last budgeted round still
    changes a label): round budget+1 is a no-op, so no error — the same
    boundary ``iterate``'s probe superstep accepts."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    indptr, nbrs = _path_csr(30)
    assert graph._min_label_fixpoint(indptr, nbrs, n_iter=29).tolist() == [0] * 30


def test_kernel_rows_job_budget(cat):
    """Executed-counter gate: with the shared derivations built, each kernel
    row plus ``benchlib.materialize`` submits at most 8 Spark jobs (the
    distributed arm submitted 27 for PageRank and 22 for CC). AQE stage
    jobs inherit the job group, so the group's job list is complete."""
    from spark_ml_algo_lib_master_tongji_spark import benchlib
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    graph.copurchase_n_verts(cat)
    graph.copurchase_csr(cat)
    sc = cat.spark.sparkContext
    try:
        for name in ROWS:
            group = f"kernel-job-budget-{name}"
            sc.setJobGroup(group, name)
            benchlib.materialize(getattr(graph, name)(cat))
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert len(jobs) <= 8, (name, len(jobs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
