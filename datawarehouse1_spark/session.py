"""SparkSession factory.

The reference delegates all planning to Postgres (SURVEY.md §4); here the
whole optimizer surface is Catalyst + AQE, configured once. Scale posture:
AQE handles runtime partition coalescing / skew joins / join-strategy
switching; UTC session timezone keeps date semantics deterministic against
the DuckDB oracle; Arrow is on for the Pandas-UDF paths.

Repeated queries: a served dashboard re-runs the same few queries, and
each warm run must find its whole-stage generated code still compiled
(SCALE.md rule 35). Spark's generated-code cache is static: the first
session in a JVM fixes its size, and every later `getOrCreate` shares
it. It is sized here well above the served working set, so a warm
round compiles nothing; check it with the delta of
`CodegenMetrics.METRIC_COMPILATION_TIME().getCount()` across a round.
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
        # --- generated-code cache (static: the JVM's first session fixes
        #     it). The 12 dashboard queries + 3 served views generate 177
        #     classes per round; at the default 100 entries every warm
        #     round recompiled ~176 of them (janino, median 8 ms each).
        #     1000 is ~5.6x that set, not the set itself: Guava evicts per
        #     segment, so a set near the limit already thrashes. An entry
        #     is ~2.7 KB bytecode + ~7.4 k chars source: ~25 MB when full.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
