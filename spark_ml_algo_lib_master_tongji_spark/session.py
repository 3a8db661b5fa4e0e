"""SparkSession factory.

The reference harness tunes Spark per-workload through ``*_spark.properties``
(executor counts, memory, partition counts — e.g.
``ml/kmeans/kmeans_spark.properties:4-10``) and per-dataset repartition knobs
(``ml/kmeans/kmeans.yml:5``). This engine instead leans on AQE for runtime
shuffle sizing and keeps a single tuned session factory; per-operator
partitioning is expressed declaratively where it matters.

Scale notes (100 TB design targets):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Arrow on: all pandas-UDF paths are Arrow-batched.
- Broadcast threshold left at default (10 MB) but operators use explicit
  ``F.broadcast`` hints for dimension tables whose small size is known
  a priori (region/nation-style dims), so the plan is stable at any SF.
- ``spark.sql.files.maxPartitionBytes`` default 128 MB is right for a
  1000-executor scan of 100 TB (~800k tasks); do not shrink it locally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "spark-ml-algo-lib-tongji",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for batch analytics.

    Local testing runs ``local[$SPARK_GRAFT_CPUS]`` with as many shuffle
    partitions, both read here at call time; on a real cluster the same
    configs apply and the master comes from spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Adaptive execution: runtime shuffle-partition coalescing, skew
        # join splitting, and local-shuffle-reader conversion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Arrow for every pandas interchange (pandas_udf, applyInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Kryo for RDD-layer data (mllib dispatch arms shuffle/cache JVM
        # vector and rating objects; JavaSerializer is the Spark default
        # there and measurably slower — A/B at sf0.1: the five RDD-arm
        # workloads 42.6s → 34.1s, PCA's RowMatrix gram pass halved).
        # DataFrame exchanges use UnsafeRow and are unaffected.
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Iterative graph/ML loops checkpoint through this directory to cut
        # lineage; harmless for pure relational work.
        .config("spark.checkpoint.compress", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Timestamps in fixtures are TIMESTAMP (no tz); keep parquet rebase off.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
