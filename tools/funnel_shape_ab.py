"""A/B the three funnel formulations behind round-12's rebuild of
``q_funnel_conversion`` — committed so the PLANS numbers stay reproducible.

Arms, oldest first:

- **four-actions** (the round-11 shipped shape): distinct().count() plus
  three chained stage-aggregate counts — 4 driver actions whose subtrees
  recompute each other (t3 re-evaluates t2 re-evaluates t1).
- **join-rollup** (the first round-12 rewrite, rejected): one action over
  stage aggregates left-joined back together. Correct and single-action,
  but AQE turns the user-keyed joins into broadcasts and ReuseExchange
  does NOT dedupe BroadcastExchange subtrees — the executed plan scans
  events 6× at small scale.
- **chained-window** (shipped): three whole-partition window minimums over
  ONE user_id exchange (stage-type IN filter pushed to the scan), per-user
  rollup on the partitioning key, single-row cross join for the
  denominator. One scan + one pruned denominator scan, no joins.

All three arms must agree on the row value (asserted) — this tool measures
shape cost only. Each arm runs in the shared session, N timed repetitions
after one warm-up.

Usage: python tools/funnel_shape_ab.py [sf_dir ...]   (default sf0.1 + sf1m)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

REPO = Path(__file__).resolve().parent.parent


def _ev(cat: Catalog) -> DataFrame:
    return cat.events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )


def arm_four_actions(cat: Catalog) -> tuple:
    ev = _ev(cat)
    t1 = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min("us").alias("t_click")
    )
    t2 = (
        ev.where(F.col("event_type") == "view")
        .join(t1, "user_id")
        .where(F.col("us") >= F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("us").alias("t_view"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("us") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    return (
        ev.select("user_id").distinct().count(),
        t1.count(),
        t2.count(),
        t3.count(),
    )


def arm_join_rollup(cat: Catalog) -> tuple:
    ev = _ev(cat)
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("us"))).alias(
            "t_click"
        )
    )
    t1 = s1.where(F.col("t_click").isNotNull())
    t2 = (
        ev.where(F.col("event_type") == "view")
        .join(t1, "user_id")
        .where(F.col("us") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("us") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    row = (
        s1.join(t2.select("user_id", F.lit(1).alias("_v")), "user_id", "left")
        .join(t3.select("user_id", F.lit(1).alias("_p")), "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("a"),
            F.count("t_click").alias("b"),
            F.count("_v").alias("c"),
            F.count("_p").alias("d"),
        )
        .first()
    )
    return tuple(row)


def arm_chained_window(cat: Catalog) -> tuple:
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_funnel_conversion,
    )

    return tuple(q_funnel_conversion(cat).first())


ARMS = {
    "four-actions": arm_four_actions,
    "join-rollup": arm_join_rollup,
    "chained-window": arm_chained_window,
}


def main() -> None:
    from spark_ml_algo_lib_master_tongji_spark.session import get_session

    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        str(REPO / "testdata_sf1m"),
    ]
    spark = get_session(app_name="funnel-shape-ab")
    for sf in sf_dirs:
        cat = Catalog(spark, sf)
        cat.events.count()  # footer/scan warm-up outside any arm
        values = {}
        for name, fn in ARMS.items():
            fn(cat)  # warm-up run
            t0 = time.perf_counter()
            for _ in range(3):
                values[name] = fn(cat)
            dt = (time.perf_counter() - t0) / 3
            print(f"{Path(sf).name:14s} {name:15s} {dt:6.3f}s/run  {values[name]}")
        assert len(set(values.values())) == 1, f"arms disagree: {values}"


if __name__ == "__main__":
    main()
