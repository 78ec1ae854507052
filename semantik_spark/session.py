"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same config block is what we would
ship to a 1000-executor cluster — AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (every pandas UDF crosses the
JVM<->Python boundary in columnar batches), UTC session time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "semantik_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE (incl. partition coalescing) apply when materializing
        # persisted DataFrames: without this, every cache() site
        # materializes with the full static shuffle-partition count, and
        # tiny-partition scheduling costs more than the recompute the
        # cache saves. Scale-adaptive: AQE coalesces by target bytes, so
        # big cached frames keep their parallelism.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the HDFS-backed state store for the stateful streaming
        # operators (interval join, session windows,
        # dropDuplicatesWithinWatermark): at this state size its
        # in-memory maps beat RocksDB's per-micro-batch native open/commit
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # UI off by default (saves event-bus overhead in tests); bench
        # runs set SPARK_GRAFT_UI=1 to expose the /api/v1 REST endpoint
        # that sources the deterministic per-query job/shuffle counters
        # (VERDICT r7 item 2).
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
