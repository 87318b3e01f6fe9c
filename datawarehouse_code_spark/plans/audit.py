"""Physical-plan audit utilities — the introspection the scale
doctrine runs on, exported as product surface so pipelines can gate
deployments on plan shape the same way tests/test_plan_shapes.py
does (a silent plan regression is an outage at 100 TB; catching it
at build time costs one explain).

Counts use UNIQUE formatted-explain node ids: the details section and
AQE's subtree reprints repeat nodes, so naive substring counts
overstate by 2-3×.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted explain string (same text `.explain("formatted")`
    prints), without stdout capture games."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def audit_plan(df: DataFrame) -> dict:
    """Plan-shape facts for a DataFrame before running it:

      n_scans            unique parquet scan nodes
      n_exchanges        unique shuffle exchanges (broadcasts excluded)
      n_broadcasts       unique broadcast exchanges
      has_cartesian      CartesianProduct anywhere (the 100 TB bomb)
      pushed_filters     every non-empty PushedFilters list
      partition_filters  every non-empty PartitionFilters list

    Gate on it like the test harness does:
        a = audit_plan(df)
        assert not a["has_cartesian"] and a["n_exchanges"] <= budget
    """
    plan = formatted_plan(df)
    scans = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    exchanges = set(re.findall(r"\((\d+)\) Exchange", plan))
    broadcasts = set(re.findall(r"\((\d+)\) BroadcastExchange", plan))
    pushed = [
        m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m
    ]
    part_filters = [
        m for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan) if m
    ]
    return {
        "n_scans": len(scans),
        "n_exchanges": len(exchanges),
        "n_broadcasts": len(broadcasts),
        "has_cartesian": "CartesianProduct" in plan,
        "pushed_filters": pushed,
        "partition_filters": part_filters,
    }


def executed_plan(df: DataFrame) -> str:
    """The physical plan Spark runs for `df` (its `executedPlan`), as
    text — the one accessor for it, so callers never reach into
    `_jdf` themselves."""
    return df._jdf.queryExecution().executedPlan().toString()
