"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same config block is what we would ship to a 1000-executor cluster —
only ``master`` and memory sizing change. Scale-relevant choices:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting)
- shuffle partitions sized from the env (32 locally; on a real cluster
  this would be ~2-3x total cores or left to AQE's coalescing)
- Arrow execution for any pandas interchange (vectorized UDF path)
- parquet pushdown left at defaults (on) — correctness of pushdown is
  asserted in tests via .explain containing PushedFilters
- ``PARALLEL_LISTING_THRESHOLD``: Spark lists a read's input paths with
  a distributed Spark job once there are more than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` of them
  (default 32). The versioned mirror names up to ``num_buckets`` (64)
  bucket dirs per read, straight from its manifest, so at the default
  every merge slice and every query frame paid a 64-task listing job
  (≈0.5 s) for what one in-process listing does in milliseconds. The constant sits
  well above any per-read path count the sinks pass, so those reads
  start no Spark job while planning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
PARALLEL_LISTING_THRESHOLD = 1024


def get_spark(
    app_name: str = "postgres-opensearch-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(PARALLEL_LISTING_THRESHOLD),
        )
        # streaming state at scale: RocksDB from day one (SURVEY §7.4.5)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
