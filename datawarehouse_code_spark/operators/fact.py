"""Fact-table build — the reference's transportfact, with real measures.

The reference inserts fact rows one at a time with NULL measures
(warehouse.py:203-210, quirks B2/B6).  Intended semantics (SURVEY.md
§7.1): fact rows come from the purchases stand-in (lineitem ⋈ orders),
measures are real (quantity ≙ l_quantity, price ≙ l_extendedprice),
and the table is range-partitioned by year (warehouse.py:188-200, O17)
→ `partitionBy("year")` on write, giving partition pruning for
year-ranged queries.

Scale notes:
- lineitem ⋈ orders is big-big → shuffle hash/sort-merge on
  l_orderkey; at 100 TB, bucket both sides by orderkey to make it
  co-located (see operators/layout.write_bucketed_table).
- customer SCALES with data size (it is a "dimension" only
  relative to the fact), so it carries NO broadcast hint: a hint
  overrides AQE's size check and would OOM executors at 100 TB.
  AQE picks broadcast-hash at small sf on its own and falls back
  to shuffle join when the relation outgrows the threshold.
- The fact id is a deterministic 128-bit hash of the full business
  identity tuple, not AUTO_INCREMENT (O19) — no global sequence
  bottleneck, idempotent re-loads, and no birthday-bound collisions
  at 100 TB row counts (64-bit collides at ~4×10⁹ rows).  The
  fixture's (l_orderkey, l_linenumber) alone is NOT unique, so the
  key spans all six identity columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehouse_code_spark.functions.scalars import date_key, surrogate_hash_key128
from datawarehouse_code_spark.operators.dimensions import SEGMENT_TO_COMPANY_TYPE, _case_map
from datawarehouse_code_spark.sources.acid import _Lease, _staged_overwrite


def fact_lines(lineitem: DataFrame, orders: DataFrame, customer: DataFrame) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer, one row per fact line: the one
    definition the fact and the cube both read.  `date` is the order
    date, NULL kept; `company_type` is O7's CASE (NULL when unmapped)."""
    ord_proj = orders.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("date"),
    )
    cust_proj = customer.select("c_custkey", "c_nationkey", "c_name", "c_mktsegment")
    return (
        lineitem.join(ord_proj, lineitem["l_orderkey"] == ord_proj["o_orderkey"], "inner")
        .join(cust_proj, F.col("o_custkey") == cust_proj["c_custkey"], "inner")
        .select(
            surrogate_hash_key128(
                F.col("l_orderkey"),
                F.col("l_linenumber"),
                F.col("l_partkey"),
                F.col("l_suppkey"),
                F.col("l_quantity"),
                F.col("l_extendedprice"),
            ).alias("id"),
            F.col("l_partkey").alias("product_id"),
            F.col("o_custkey").alias("client_id"),
            F.col("c_name").alias("company_name"),
            _case_map(F.col("c_mktsegment"), SEGMENT_TO_COMPANY_TYPE, "string").alias(
                "company_type"
            ),
            F.col("c_nationkey").alias("country_id"),
            "date",
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("price"),
        )
    )


def build_fact(lineitem: DataFrame, orders: DataFrame, customer: DataFrame) -> DataFrame:
    """transportfact stand-in: (id, product_id, client_id, date_id,
    country_id, quantity, price, year) — warehouse.py:172-187 schema,
    O15 FK projection with B6 resolved (real measures)."""
    return fact_lines(lineitem, orders, customer).select(
        "id", "product_id", "client_id", date_key(F.col("date")).alias("date_id"),
        "country_id", "quantity", "price", F.year("date").cast("int").alias("year"),
    )


def write_fact(fact: DataFrame, path: str, lease: _Lease | None = None) -> None:
    """Partitioned fact write (O17): year range-partitioning ≙
    `partitionBy("year")`; Spark partition pruning replaces MySQL
    partition elimination.

    Rows are additionally sorted by `date_id` WITHIN each task
    partition before writing: parquet row-group min/max stats on a
    sorted column turn date-ranged scans into row-group skips — the
    cheap stand-in for the reference's secondary date index (O18) that
    costs one in-memory sort per task, no extra shuffle (verified:
    same exchange count with and without).

    Without `lease` the table is rebuilt through acid's staged swap
    (r16 self-review, same fix as write_cube): a bare overwrite
    deletes the live fact before the job runs, so every rebuild opened
    a no-fact window that a failed run held open.  With `lease` — the
    handle of the ``sources/acid.leased_append`` block the caller
    holds on `path` — the rows are APPENDED (the O6 sink).  The caller
    takes the lease, not this function, so that its read of the
    existing fact (the delta's anti-side) runs after the lease's
    crashed-swap repair (r17 'append eclipse' find): an append itself
    never destroys data, but appending into a target a crashed swap
    left renamed aside re-CREATES the target with only the delta —
    and the next repair then deletes the aside holding the real
    table."""
    sorted_fact = fact.sortWithinPartitions("year", "date_id")
    if lease is None:
        _staged_overwrite(
            fact.sparkSession, sorted_fact, path, partition_by=["year"]
        )
        return
    sorted_fact.write.mode("append").partitionBy("year").parquet(path)
