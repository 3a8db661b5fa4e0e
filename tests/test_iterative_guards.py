"""Guards on the DataFrame-Pregel loop machinery: conditional vertex-state
broadcast (round-1 ADVICE: an unconditional O(|V|) broadcast hint fails
outright at scale) and the fixed-point convergence check (round-1 ADVICE:
truncated propagation budgets silently mislabel larger graphs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _pairs(spark):
    rows = [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1), (5, 6, 1), (8, 9, 1)]
    return spark.createDataFrame(rows, "src long, dst long, cnt long")


def test_state_join_shuffles_when_hint_disabled(spark):
    """Above the ceiling, a superstep-shaped join of edges to vertex state
    must not plan a broadcast of the state side — the state joins through
    an exchange (shuffled hash / sort-merge), the shape that survives
    |V| ≫ broadcast limits. (The loop's returned DataFrame is checkpointed,
    so the superstep plan is asserted on a directly-built join.)"""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    e = graph.symmetrize(_pairs(spark))
    state = e.select(F.col("src").alias("v")).distinct().withColumn(
        "label", F.col("v")
    )
    hinted = e.join(graph._bc(state, 10), e.src == state.v)
    plain = e.join(graph._bc(state, graph.STATE_BC_MAX_ROWS + 1), e.src == state.v)
    assert "BroadcastHashJoin" in hinted._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastHashJoin"
        not in plain._jdf.queryExecution().executedPlan().toString()
    )


def test_components_identical_without_broadcast_hint(spark, monkeypatch):
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_SMOKE)
    e = graph.symmetrize(graph.copurchase_pairs(cat))
    hinted = sorted(map(tuple, graph.connected_components(e).collect()))
    monkeypatch.setattr(graph, "STATE_BC_MAX_ROWS", -1)
    plain = sorted(map(tuple, graph.connected_components(e).collect()))
    assert hinted == plain


def test_not_converged_raises(spark):
    """A round budget smaller than the graph diameter must raise, not
    return truncated labels."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
    )

    e = graph.symmetrize(_pairs(spark))  # path 1-…-6: diameter 5
    with pytest.raises(NotConvergedError):
        graph.connected_components(e, n_iter=2).collect()


def test_converged_budget_passes_and_labels_exact(spark):
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    e = graph.symmetrize(_pairs(spark))
    out = dict(graph.connected_components(e, n_iter=6).collect())
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 8: 8, 9: 8}


def test_shrinking_state_is_not_a_silent_fixpoint(spark):
    """Monotonically shrinking states (k-core-style peels, where each
    round's output is a subset of the input) must still trip the guard
    when truncated: a one-sided after∖before diff is empty for every
    deletion-only step, so ``unchanged`` must also compare cardinality
    (round-2 ADVICE)."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(v,) for v in range(10)], "v long")

    # deterministic deletion-only step: drop the max id each round
    def shrink(state, _i):
        mx = state.agg(F.max("v")).collect()[0][0]
        return state.where(F.col("v") < mx) if mx is not None and mx > 0 else state

    with pytest.raises(NotConvergedError):
        iterate(state0, shrink, 3, verify_fixpoint=unchanged).collect()

    # and a shrink that genuinely reaches its fixed point passes
    out = iterate(state0, shrink, 12, verify_fixpoint=unchanged)
    assert [r["v"] for r in out.collect()] == [0]


def test_probe_fallback_when_budget_is_exact(spark):
    """Budget == rounds-to-fixpoint (state changes in the final round):
    the cheap penultimate-state comparison fails, the probe superstep
    proves quiescence, and the loop still succeeds."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(1, 3)], "v long, x long")

    def step(state, _i):
        return state.select("v", F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    out = iterate(state0, step, 3, verify_fixpoint=unchanged)
    assert out.collect()[0][1] == 0


def test_early_exit_returns_identical_state_and_skips_dead_rounds(spark):
    """A loop that converges at round k < budget must (a) stop stepping —
    the remaining rounds are proven no-ops — and (b) return exactly the
    state the full unroll would produce (the oracle-parity invariant the
    round-4 early exit rests on)."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(1, 3)], "v long, x long")
    calls = []

    def step(state, i):
        calls.append(i)
        return state.select("v", F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    out = iterate(state0, step, 50, verify_fixpoint=unchanged)
    assert out.collect()[0][1] == 0
    # x hits 0 after 3 steps; the first adjacent-equal pair appears one
    # step later. Far fewer than 50 steps may run, and none after that.
    assert len(calls) < 10


def test_early_stop_does_not_demand_convergence(spark):
    """``early_stop`` (depth-limited loops: BFS/SSSP) exits on a proven
    fixed point but must NOT raise when the budget truncates first."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(1, 100)], "v long, x long")

    def step(state, _i):
        return state.select("v", F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    # truncated: budget 3 leaves x at 97 — valid output, no error
    out = iterate(state0, step, 3, early_stop=unchanged)
    assert out.collect()[0][1] == 97


def test_monotone_sum_probe_matches_unchanged_on_label_loops(spark):
    """The scalar-sum probe must agree with full multiset equality on a
    monotone min-label loop — same early exit, same final labels."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
        monotone_sum_probe,
    )

    e = graph.symmetrize(_pairs(spark))
    out = dict(graph.connected_components(e, n_iter=8).collect())
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 8: 8, 9: 8}

    # the probe itself: equal sums on identical states, unequal otherwise
    probe = monotone_sum_probe("label")
    s1 = spark.createDataFrame([(1, 5), (2, 7)], "v long, label long")
    s2 = spark.createDataFrame([(1, 5), (2, 6)], "v long, label long")
    assert probe(s1, s1) and not probe(s1, s2)

    # truncated-propagation guard still fires through the scalar probe
    with pytest.raises(NotConvergedError):
        graph.connected_components(e, n_iter=2).collect()


def test_stat_probe_reuses_previous_after_stats(spark, monkeypatch):
    """``iterate`` hands each cut's state to the probe as ``after`` and then
    as the next ``before``: a chain probe(a, b), probe(b, c) runs three
    stat aggs, not four, and still judges each pair correctly."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        stat_fixpoint_probe,
    )

    a = spark.createDataFrame([(1, 5), (2, 7)], "v long, label long")
    b = spark.createDataFrame([(1, 5), (2, 6)], "v long, label long")
    c = spark.createDataFrame([(1, 5), (2, 6)], "v long, label long")
    calls = []
    agg = type(a).agg

    def spy(self, *cols):
        calls.append(self)
        return agg(self, *cols)

    monkeypatch.setattr(type(a), "agg", spy)
    probe = stat_fixpoint_probe("sum(label)")
    assert not probe(a, b)
    assert probe(b, c)
    assert calls == [a, b, c]
    # a fresh ``before`` is never served from the cache
    assert not probe(a, c)
    assert calls[3:] == [a, c]
