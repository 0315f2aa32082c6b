"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "webdedup",
    cores: int | str | None = None,
    shuffle_partitions: int = 32,
    advisory_partition_size: str = "4m",
    min_partition_size: str = "1m",
    extra: dict | None = None,
) -> SparkSession:
    """Local session tuned for the dedup pipeline.

    On a real cluster these configs ship unchanged via spark-submit --conf;
    AQE + skew-join stay on so hot LSH buckets that survive salting are still
    split at runtime.

    ``advisory_partition_size`` / ``min_partition_size`` default to small
    values that keep every local core fed at test/bench corpus sizes; at
    production shuffle volumes pass Spark's own defaults ("64m" / "1m") —
    a 4m advisory size there multiplies post-shuffle partition counts ~16x,
    inflating task-scheduling and small-file overhead for no benefit.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            advisory_partition_size,
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            min_partition_size,
        )
        # InferFiltersFromGenerate injects a size(<generator child>) > 0
        # pre-filter whose condition RE-INLINES the generator's whole child
        # expression tree; with higher-order-function children (the gram /
        # block / simhash-key builders: transform + lambdas, which codegen
        # cannot CSE) every array is built twice per row — and the filter's
        # copy re-evaluates the inner split() per element, O(tokens²).
        # Measured at sf0.1: explode of the gram arrays 3.8 s → 0.6 s,
        # q_ngram_jaccard 6.2 s → 1.8 s, dedup e2e 8.4 s → 3.5 s. The rule
        # only prunes rows that generate zero output (results identical);
        # Spark made it excludable for exactly this regression class
        # (SPARK-33544). The relative cost is scale-independent (it is
        # per-row work), so this is a plan-shape fix, not a local tweak.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("WEBDEDUP_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
