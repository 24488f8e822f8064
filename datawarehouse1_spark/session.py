"""SparkSession factory.

The reference delegates all planning to Postgres (SURVEY.md §4); here the
whole optimizer surface is Catalyst + AQE, configured once. Scale posture:
AQE handles runtime partition coalescing / skew joins / join-strategy
switching; UTC session timezone keeps date semantics deterministic against
the DuckDB oracle; Arrow is on for the Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "datawarehouse1-spark") -> SparkSession:
    """Build (or reuse) the session. local[$SPARK_GRAFT_CPUS] for tests/bench;
    on a real cluster the master comes from spark-submit and these configs
    still apply (all are safe cluster-side defaults)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- optimizer / runtime re-planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.cbo.enabled", "true")
        # --- shuffle sizing (bench scale; a 100 TB run would raise this
        #     or rely on AQE's initialPartitionNum) ---
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS))
        # --- determinism vs the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # keep naive parquet timestamps naive (matches DuckDB's reading)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # --- python<->jvm transfer ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
