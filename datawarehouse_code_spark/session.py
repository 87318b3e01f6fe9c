"""SparkSession factory.

The reference opens raw MySQL connections per phase
(warehouse.py:26,46,248); our equivalent of "the engine handle" is a
single configured SparkSession. Config choices are scale-motivated:

- AQE on: runtime join-strategy selection, partition coalescing and
  skew-join splitting replace the reference's reliance on the MySQL
  optimizer (warehouse.py:256-284 delegates all planning to MySQL).
- shuffle.partitions sized to local cores; on a real cluster AQE
  coalesces from a higher initial number.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Arrow enabled for the Pandas-UDF slow path (multimodal operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "datawarehouse_code_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    master = f"local[{cpus or DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus or DEFAULT_CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # reliable checkpoints (every operators/iterative.cut_lineage
        # once a checkpoint dir is set) are deleted on driver GC of the
        # RDD reference; without this the TERMINAL checkpoint of every
        # iterative call and every one-shot cut accumulates forever
        # (per-round SUPERSEDED checkpoints are deleted eagerly by
        # cut_lineage).  Clusters that set a checkpoint dir must set
        # this too.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # saveAsTable targets (bucketed writes) go to a scratch dir,
        # never the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    # getOrCreate silently ignores configs when a session already exists;
    # the UTC timezone is load-bearing for oracle parity, so enforce it
    # (it is a runtime-settable conf) rather than trusting the builder.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
