"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM).  The config below is written for cluster scale, not just the
test box:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast-join demotion/promotion based on observed sizes — this is
  what keeps the same plans healthy between sf0.001 and 100 TB.
- ``spark.sql.shuffle.partitions`` sized to the local core count here;
  on a real cluster AQE's coalescing makes the initial number mostly a
  ceiling, so a large value + AQE is the scale-safe default.
- Arrow enabled: every pandas UDF / ``applyInPandas`` path is
  Arrow-batched (the only non-JVM operators in this engine are the
  spatial lookup and NFC normalization).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB correctness oracle and are cluster-node independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SF_DIR"]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _local_cores() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_spark(app_name: str = "mini-project-204721-spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cores = _local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
        # --- scale posture -------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python interop ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle parity ----------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # keep the UI off in tests; it only costs startup time here
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # full-table demo queries (discount_class: one row per lineitem)
        # materialize driver-side in the bench; at sf10 probe scale the
        # Arrow-collected result crosses the 1g default — the cap is a
        # guard against accidental collects, so raise it only as far as
        # the probe needs and keep it configurable
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
    )
    return builder.getOrCreate()
