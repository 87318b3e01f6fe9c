"""Warehouse query surface (SURVEY.md §2.2, Phase 2).

The reference builds a cube and never queries it
(/root/reference/warehouse.py:256-284 materializes; its measures at
warehouse.py:179-180 have no consumer).  These are the queries the
cube exists for: aggregates, rollup/cube/grouping sets, windows,
top-k, filters, set ops, JSON/string scalars, outer/semi/theta joins.

Scale notes baked into each plan:
- group-bys are partial-aggregated map-side by Catalyst (no naive
  shuffles of raw rows for sum/count/avg);
- filters sit directly on the scan so they push into parquet
  (PushedFilters) and prune columns;
- window ranks always partition (no global single-partition windows
  over unbounded data);
- float aggregates are rounded on BOTH engine sides so ulp-order
  noise can't flip the driver's value hash (plans/base.py doctrine).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.iterative import cut_lineage
from datawarehouse_code_spark.pipeline import build_warehouse
from datawarehouse_code_spark.plans.base import Query
from datawarehouse_code_spark.sources.catalog import read_table

# The cube re-derived as a DuckDB CTE, for oracles that query it.
_CUBE_CTE = """
WITH sub AS (
  SELECT CAST(row_number() OVER (ORDER BY subcategory) AS INTEGER) AS subcategory_id,
         subcategory
  FROM (SELECT DISTINCT p_type AS subcategory FROM part)
), cube_t AS (
  SELECT sub.subcategory AS category,
         CASE c_mktsegment
              WHEN 'MACHINERY'  THEN 'mechanic_company'
              WHEN 'AUTOMOBILE' THEN 'electric_company'
              WHEN 'BUILDING'   THEN 'industry'
         END AS company_type,
         n_name AS country_name,
         l_partkey AS product_id,
         CAST(month(o_orderdate) AS INTEGER) AS month,
         CAST(year(o_orderdate) AS INTEGER) AS year,
         l_quantity AS quantity,
         l_extendedprice AS price
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN part     ON l_partkey = p_partkey
  JOIN sub      ON p_type = sub.subcategory
)
"""

# ------------------------------------------------------------ aggregates


def _agg_revenue_year_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship aggregate (entry()'s query, oracle-checked)."""
    cube = build_warehouse(spark, sf_dir).cube
    return cube.groupBy("year", "country_name").agg(
        F.round(F.sum(F.col("quantity") * F.col("price")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_AGG_REVENUE_SQL = _CUBE_CTE + """
SELECT year, country_name,
       round(sum(quantity * price), 2) AS revenue,
       count(*) AS n_rows
FROM cube_t
GROUP BY year, country_name
"""


def _agg_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan-heavy aggregate: sum/avg/count with an
    arithmetic measure, filter pushed to the parquet scan."""
    li = read_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_AGG_LINEITEM_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countDistinct per group (expand + two-phase agg in Spark)."""
    orders = read_table(spark, "orders", sf_dir)
    return (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("year"))
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
    )


_AGG_COUNTD_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_totalprice
FROM orders
GROUP BY 1
"""

# ----------------------------------------------- rollup / cube / grouping sets


def _agg_rollup_year_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    cube = build_warehouse(spark, sf_dir).cube
    return (
        cube.rollup("year", "company_type")
        .agg(
            F.round(F.sum(F.col("quantity") * F.col("price")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


_AGG_ROLLUP_SQL = _CUBE_CTE + """
SELECT year, company_type,
       round(sum(quantity * price), 2) AS revenue,
       count(*) AS n_rows,
       CAST(GROUPING(year, company_type) AS INTEGER) AS gid
FROM cube_t
GROUP BY ROLLUP (year, company_type)
"""


def _agg_cube_type_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    cube = build_warehouse(spark, sf_dir).cube
    return (
        cube.cube("company_type", "category")
        .agg(
            F.round(F.sum("quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


_AGG_CUBE_SQL = _CUBE_CTE + """
SELECT company_type, category,
       round(sum(quantity), 2) AS sum_qty,
       count(*) AS n_rows,
       CAST(GROUPING(company_type, category) AS INTEGER) AS gid
FROM cube_t
GROUP BY CUBE (company_type, category)
"""


def _agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: by year, by country, and grand total."""
    cube = build_warehouse(spark, sf_dir).cube
    cube.createOrReplaceTempView("_gs_cube")
    return spark.sql(
        """
        SELECT year, country_name,
               round(sum(quantity * price), 2) AS revenue,
               CAST(grouping_id() AS INT) AS gid
        FROM _gs_cube
        GROUP BY GROUPING SETS ((year), (country_name), ())
        """
    )


_AGG_GSETS_SQL = _CUBE_CTE + """
SELECT year, country_name,
       round(sum(quantity * price), 2) AS revenue,
       CAST(GROUPING(year, country_name) AS INTEGER) AS gid
FROM cube_t
GROUP BY GROUPING SETS ((year), (country_name), ())
"""

# ------------------------------------------------------------ windows / top-k


def _monthly_revenue(cube: DataFrame) -> DataFrame:
    return cube.groupBy("country_name", "year", "month").agg(
        F.round(F.sum(F.col("quantity") * F.col("price")), 2).alias("revenue")
    )


_MONTHLY_CTE = _CUBE_CTE + """, monthly AS (
  SELECT country_name, year, month,
         round(sum(quantity * price), 2) AS revenue
  FROM cube_t
  GROUP BY country_name, year, month
)
"""


def _agg_quarter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter rollup through the date dimension's three_months column
    (the reference's O11/O12 derivation, finally consumed by a query)."""
    wh = build_warehouse(spark, sf_dir)
    fact = wh.fact
    dd = wh.dim_date
    return (
        fact.join(F.broadcast(dd.select("date_id", "three_months")), "date_id")
        .groupBy("year", "three_months")
        .agg(
            F.round(F.sum(F.col("quantity") * F.col("price")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_AGG_QUARTER_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       CAST((quarter(o_orderdate) - 1) * 3 + 1 AS INTEGER) AS three_months,
       round(sum(l_quantity * l_extendedprice), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


def _agg_pivot_company_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue by year, one column per company_type.  Explicit
    value list — at scale an unlisted pivot forces an extra distinct
    pass over the data to discover the columns."""
    cube = build_warehouse(spark, sf_dir).cube
    return (
        cube.groupBy("year")
        .pivot("company_type", ["electric_company", "mechanic_company", "industry"])
        .agg(F.round(F.sum(F.col("quantity") * F.col("price")), 2))
    )


_AGG_PIVOT_SQL = _CUBE_CTE + """
SELECT year,
       round(sum(CASE WHEN company_type = 'electric_company'
                      THEN quantity * price END), 2) AS electric_company,
       round(sum(CASE WHEN company_type = 'mechanic_company'
                      THEN quantity * price END), 2) AS mechanic_company,
       round(sum(CASE WHEN company_type = 'industry'
                      THEN quantity * price END), 2) AS industry
FROM cube_t
GROUP BY year
"""


def _window_topk_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 products by revenue per country: partitioned rank, never a
    global single-partition window (the 100 TB-safe top-k shape)."""
    cube = build_warehouse(spark, sf_dir).cube
    rev = cube.groupBy("country_name", "product_id").agg(
        F.round(F.sum(F.col("quantity") * F.col("price")), 2).alias("revenue")
    )
    w = Window.partitionBy("country_name").orderBy(
        F.col("revenue").desc(), F.col("product_id").asc()
    )
    return (
        rev.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
    )


_WINDOW_TOPK_SQL = _CUBE_CTE + """, rev AS (
  SELECT country_name, product_id,
         round(sum(quantity * price), 2) AS revenue
  FROM cube_t GROUP BY country_name, product_id
)
SELECT country_name, product_id, revenue, rk
FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY country_name ORDER BY revenue DESC, product_id ASC
  ) AS INTEGER) AS rk
  FROM rev
)
WHERE rk <= 3
"""


def _window_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): month-over-month revenue delta per country."""
    cube = build_warehouse(spark, sf_dir).cube
    monthly = _monthly_revenue(cube)
    w = Window.partitionBy("country_name").orderBy("year", "month")
    return monthly.select(
        "country_name",
        "year",
        "month",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias("growth"),
    )


_WINDOW_GROWTH_SQL = _MONTHLY_CTE + """
SELECT country_name, year, month, revenue,
       round(revenue - lag(revenue) OVER (
           PARTITION BY country_name ORDER BY year, month), 2) AS growth
FROM monthly
"""


def _window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame aggregate: 3-month moving average per country.

    The average is computed over exact integer cents (moving sum of
    bigint, floor-divided by count), not avg() over doubles: engines
    disagree on the last cent when a double mean lands on a .005
    boundary (Spark rounds the exact binary value HALF_UP, DuckDB
    multiplies-then-nearbyints), and the driver's value hash has no
    tolerance.  floor() has no such boundary.
    """
    cube = build_warehouse(spark, sf_dir).cube
    monthly = _monthly_revenue(cube).withColumn(
        "cents", F.round(F.col("revenue") * 100, 0).cast("bigint")
    )
    w = (
        Window.partitionBy("country_name")
        .orderBy("year", "month")
        .rowsBetween(-2, Window.currentRow)
    )
    return monthly.select(
        "country_name",
        "year",
        "month",
        "revenue",
        (
            F.floor(F.sum("cents").over(w) / F.count(F.lit(1)).over(w)) / F.lit(100.0)
        ).alias("mavg_3m"),
    )


_WINDOW_MAVG_SQL = _MONTHLY_CTE + """
SELECT country_name, year, month, revenue,
       floor(sum(CAST(round(revenue * 100, 0) AS BIGINT)) OVER w
             / count(*) OVER w) / 100.0 AS mavg_3m
FROM monthly
WINDOW w AS (PARTITION BY country_name ORDER BY year, month
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

# --------------------------------------------------- filters / sorts / top-k


def _filter_orders_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN + IN + LIKE + comparison, all pushed to the parquet scan."""
    orders = read_table(spark, "orders", sf_dir)
    return orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("o_orderstatus").isin("O", "F")
        & (F.col("o_totalprice") > 150000.0)
        & F.col("o_orderpriority").like("1-%")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


_FILTER_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND o_orderstatus IN ('O', 'F')
  AND o_totalprice > 150000.0
  AND o_orderpriority LIKE '1-%'
"""


def _topk_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy + limit compiles to TakeOrderedAndProject
    (per-partition top-k + driver merge of k rows — no global sort)."""
    orders = read_table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""

# ------------------------------------------------------------ set operations


def _set_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers ordering in both 1995 and 1996."""
    orders = read_table(spark, "orders", sf_dir)
    y = F.year("o_orderdate")
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 1996).select("o_custkey")
    return a.intersect(b)


_SET_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


def _set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): 1995 customers who did not order in 1996."""
    orders = read_table(spark, "orders", sf_dir)
    y = F.year("o_orderdate")
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 1996).select("o_custkey")
    return a.subtract(b)  # EXCEPT DISTINCT semantics, matching SQL EXCEPT


_SET_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


def _set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiplicity-aware): every purchase of a part minus
    one occurrence per returned line of that part."""
    li = read_table(spark, "lineitem", sf_dir)
    bought = li.select("l_partkey")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    return bought.exceptAll(returned)


_SET_EXCEPT_ALL_SQL = """
SELECT l_partkey FROM lineitem
EXCEPT ALL
SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
"""


def _set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: partkeys common to 'A' and 'N' return-status
    bags, keeping min-multiplicity duplicates."""
    li = read_table(spark, "lineitem", sf_dir)
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    n = li.filter(F.col("l_returnflag") == "N").select("l_partkey")
    return a.intersectAll(n)


_SET_INTERSECT_ALL_SQL = """
SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
INTERSECT ALL
SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
"""

# ------------------------------------------------------- JSON / string scalars


def _json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json over events.props (typed extraction, not string hacks),
    aggregated per event_type."""
    events = read_table(spark, "events", sf_dir)
    k = F.from_json("props", "k INT")["k"]
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_JSON_SQL = """
SELECT event_type,
       count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
"""


def _string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: upper/substring/concat/regexp/length."""
    customer = read_table(spark, "customer", sf_dir)
    return customer.select(
        "c_custkey",
        F.upper(F.col("c_mktsegment")).alias("segment_upper"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("/", F.col("c_name"), F.col("c_mktsegment")).alias("name_seg"),
        F.regexp_extract(F.col("c_name"), r"([0-9]+)$", 1).alias("name_num"),
        F.length(F.col("c_name")).cast("int").alias("name_len"),
    )


_STRING_SQL = """
SELECT c_custkey,
       upper(c_mktsegment) AS segment_upper,
       substring(c_name, 1, 8) AS name_prefix,
       c_name || '/' || c_mktsegment AS name_seg,
       coalesce(regexp_extract(c_name, '([0-9]+)$', 1), '') AS name_num,
       CAST(length(c_name) AS INTEGER) AS name_len
FROM customer
"""

# --------------------------------------------------------------- join surface


def _join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: every order with its lineitem count (0 if none —
    aggregate-then-join so the outer side never inflates)."""
    orders = read_table(spark, "orders", sf_dir)
    li = read_table(spark, "lineitem", sf_dir)
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )
    return orders.join(per_order, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("n_items"),
        F.coalesce(F.col("qty"), F.lit(0.0)).alias("total_qty"),
    )


_JOIN_LEFT_SQL = """
SELECT o_orderkey,
       coalesce(cnt, 0) AS n_items,
       coalesce(qty, 0.0) AS total_qty
FROM orders
LEFT JOIN (
  SELECT l_orderkey, count(*) AS cnt, round(sum(l_quantity), 2) AS qty
  FROM lineitem GROUP BY l_orderkey
) li ON o_orderkey = li.l_orderkey
"""


def _join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER: customer vs supplier presence per nation."""
    customer = read_table(spark, "customer", sf_dir)
    supplier = read_table(spark, "supplier", sf_dir)
    c = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return c.join(s, "nationkey", "full").select(
        "nationkey",
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


_JOIN_FULL_SQL = """
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
USING (nationkey)
"""


def _join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers who have at least one order (EXISTS)."""
    customer = read_table(spark, "customer", sf_dir)
    orders = read_table(spark, "orders", sf_dir)
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


_JOIN_SEMI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def _theta_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi range) join: parts bucketed into literal price
    bands.  The band table is tiny → broadcast nested-loop, which is
    exactly right; a big-big range join would instead be binned to an
    equi-join on the bucket id."""
    part = read_table(spark, "part", sf_dir)
    bands = spark.createDataFrame(
        [(1, 0.0, 500.0), (2, 500.0, 1000.0), (3, 1000.0, 1500.0), (4, 1500.0, 1e9)],
        "band_id INT, lo DOUBLE, hi DOUBLE",
    )
    joined = part.join(
        F.broadcast(bands),
        (part["p_retailprice"] >= bands["lo"]) & (part["p_retailprice"] < bands["hi"]),
        "inner",
    )
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
    )


_THETA_SQL = """
SELECT band_id, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
FROM part
JOIN (VALUES (1, 0.0, 500.0), (2, 500.0, 1000.0),
             (3, 1000.0, 1500.0), (4, 1500.0, 1e9)) AS bands(band_id, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id
"""


def _interval_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join, binned (operators/joins.py
    interval_bucket_join): shipments falling inside promotion windows
    derived from every 97th order (window length = orderkey % 30
    days).  The BETWEEN predicate alone would compile to a nested-loop
    over |lineitem|×|windows|; binning both sides to 30-day buckets
    makes it a hash equi-join with the BETWEEN as residual — the shape
    that survives when neither side fits a broadcast."""
    from datawarehouse_code_spark.operators.joins import interval_bucket_join

    orders = read_table(spark, "orders", sf_dir)
    intervals = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("interval_id"),
        F.to_date("o_orderdate").alias("win_start"),
        F.date_add(
            F.to_date("o_orderdate"), (F.col("o_orderkey") % 30).cast("int")
        ).alias("win_end"),
    )
    points = read_table(spark, "lineitem", sf_dir).select(
        F.to_date("l_shipdate").alias("ship_date"), "l_quantity"
    )
    joined = interval_bucket_join(
        points, intervals, "ship_date", "win_start", "win_end", bucket_days=30
    )
    return joined.groupBy("interval_id", "win_start", "win_end").agg(
        F.count(F.lit(1)).alias("n_shipments"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_INTERVAL_JOIN_SQL = """
WITH iv AS (
  SELECT o_orderkey AS interval_id,
         CAST(o_orderdate AS DATE) AS win_start,
         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INTEGER) AS win_end
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT interval_id, win_start, win_end,
       count(*) AS n_shipments,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN iv
  ON CAST(l_shipdate AS DATE) BETWEEN win_start AND win_end
GROUP BY 1, 2, 3
"""


def _dq_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (operators/quality.py): null profile of
    orders in ONE aggregation pass, key uniqueness, real FK integrity
    (orders→customer, lineitem→orders), a simulated stale-dim FK check
    (customer restricted to even keys — nonzero violations by
    construction, exercising the violation path), and a range check."""
    from datawarehouse_code_spark.operators.quality import (
        dq_audit,
        fk_violations,
        null_counts,
        range_violations,
        unique_violations,
    )

    orders = read_table(spark, "orders", sf_dir)
    customer = read_table(spark, "customer", sf_dir)
    lineitem = read_table(spark, "lineitem", sf_dir)
    return dq_audit([
        null_counts(orders, ["o_custkey", "o_totalprice", "o_orderdate"]),
        unique_violations(orders, ["o_orderkey"]),
        fk_violations(orders, "o_custkey", customer, "c_custkey",
                      "orders.o_custkey->customer.c_custkey"),
        fk_violations(orders, "o_custkey",
                      customer.filter(F.col("c_custkey") % 2 == 0), "c_custkey",
                      "orders.o_custkey->customer_even.c_custkey"),
        fk_violations(lineitem, "l_orderkey", orders, "o_orderkey",
                      "lineitem.l_orderkey->orders.o_orderkey"),
        range_violations(orders, "o_totalprice>0", F.col("o_totalprice") > 0),
    ])


_DQ_AUDIT_SQL = """
SELECT 'null' AS check_kind, 'o_custkey' AS target,
       CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_bad,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders
UNION ALL
SELECT 'null', 'o_totalprice',
       CAST(count(*) FILTER (o_totalprice IS NULL) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'null', 'o_orderdate',
       CAST(count(*) FILTER (o_orderdate IS NULL) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique', 'o_orderkey',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'fk', 'orders.o_custkey->customer.c_custkey',
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'fk', 'orders.o_custkey->customer_even.c_custkey',
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey % 2 = 0
                                 AND c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'fk', 'lineitem.l_orderkey->orders.o_orderkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'range', 'o_totalprice>0',
       CAST(count(*) - count(*) FILTER (o_totalprice > 0) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
"""


def _dim_client_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension merge (operators/scd.py): an initial
    client dimension loaded 2023-01-01 (six-sevenths of customers)
    receives a full snapshot at 2024-06-01 where every 10th account
    balance moved — changed keys close+reopen, new keys open,
    unchanged rows carry through.  One key equi-join, no windows."""
    from datawarehouse_code_spark.operators.scd import scd2_init, scd2_merge

    base = read_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("client_id"),
        F.col("c_name").alias("company_name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    dim = scd2_init(base.filter(F.col("client_id") % 7 != 0), "2023-01-01")
    snap = base.withColumn(
        "acctbal",
        F.when(F.col("client_id") % 10 == 0, F.col("acctbal") + 100).otherwise(
            F.col("acctbal")
        ),
    )
    return scd2_merge(dim, snap, ["client_id"], ["company_name", "acctbal"], "2024-06-01")


_SCD2_SQL = """
WITH init AS (
  SELECT c_custkey AS client_id, c_name AS company_name, c_acctbal AS acctbal
  FROM customer WHERE c_custkey % 7 <> 0
), snap AS (
  SELECT c_custkey AS client_id, c_name AS company_name,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS acctbal
  FROM customer
)
SELECT i.client_id, i.company_name, i.acctbal,
       DATE '2023-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
       TRUE AS is_current
FROM init i LEFT JOIN snap s USING (client_id)
-- carried = unchanged OR absent from the snapshot (scd2_merge does no
-- implicit deletes, so the oracle must not drop snap-missing keys —
-- a LEFT JOIN keeps them even though this fixture's snapshot happens
-- to cover every init key)
-- NULL-safe comparisons throughout: scd2_merge compares tracked
-- columns with eqNullSafe (struct equality), so a NULL tracked value
-- on both sides is "unchanged" — plain =/<> would evaluate to NULL
-- and silently drop the row from every branch
WHERE s.client_id IS NULL
   OR (s.acctbal IS NOT DISTINCT FROM i.acctbal
       AND s.company_name IS NOT DISTINCT FROM i.company_name)
UNION ALL
SELECT i.client_id, i.company_name, i.acctbal,
       DATE '2023-01-01', DATE '2024-06-01', FALSE
FROM init i JOIN snap s USING (client_id)
WHERE s.acctbal IS DISTINCT FROM i.acctbal
   OR s.company_name IS DISTINCT FROM i.company_name
UNION ALL
SELECT s.client_id, s.company_name, s.acctbal,
       DATE '2024-06-01', CAST(NULL AS DATE), TRUE
FROM snap s LEFT JOIN init i USING (client_id)
WHERE i.client_id IS NULL
   OR s.acctbal IS DISTINCT FROM i.acctbal
   OR s.company_name IS DISTINCT FROM i.company_name
"""


def _asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.py asof_join_backward): each click
    event picks up the most recent view event of the same user at or
    before its timestamp.  The union+window plan shuffles both sides
    once on user_id — no per-key pair explosion, unlike a range join."""
    from datawarehouse_code_spark.operators.joins import asof_join_backward

    events = read_table(spark, "events", sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    return asof_join_backward(
        clicks, views,
        keys=["user_id"], ts_col="ts",
        payload_cols=["view_event_id", "view_value"],
        right_tiebreak="view_event_id",
    )


_ASOF_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, event_id AS view_event_id, value AS view_value
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
), tagged AS (
  SELECT user_id, ts, event_id,
         CAST(NULL AS BIGINT) AS view_event_id,
         CAST(NULL AS DOUBLE) AS view_value, 1 AS is_left
  FROM clicks
  UNION ALL
  SELECT user_id, ts, CAST(NULL AS BIGINT), view_event_id, view_value, 0
  FROM views
), carried AS (
  SELECT *,
         last_value(
           CASE WHEN is_left = 0
                THEN struct_pack(e := view_event_id, v := view_value) END
           IGNORE NULLS
         ) OVER (
           PARTITION BY user_id
           ORDER BY ts NULLS FIRST, is_left, coalesce(view_event_id, 0)
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS prior_view
  FROM tagged
)
SELECT user_id, ts, event_id,
       prior_view.e AS asof_view_event_id,
       prior_view.v AS asof_view_value
FROM carried
WHERE is_left = 1
"""


# ------------------------------------------------- consolidated suites
#
# The driver's correctness gate checks a bounded prefix of the registry
# (50 entries), so trivially-coupled queries are unioned into labeled
# suite rows: the SAME constituent plans re-projected onto a shared
# schema, with the oracle SQL unioned branch-for-branch.  Constituents
# stay importable and benchable (WAREHOUSE_SUPPLEMENTARY); Spark's
# ReuseExchange de-duplicates the identical cube subplans inside a
# suite, so a suite costs about as much as its priciest branch.


def _agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped lineitem stats + per-year countDistinct over
    orders, labeled (frees a registry slot; constituents stay
    benchable as usual)."""
    li = _agg_lineitem_stats(spark, sf_dir).select(
        F.lit("lineitem").alias("part"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        F.col("sum_qty").alias("d1"),
        F.col("sum_base_price").alias("d2"),
        F.col("sum_disc_price").alias("d3"),
        F.col("avg_qty").alias("d4"),
        F.col("avg_disc").alias("d5"),
        F.col("count_order").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    cd = _agg_count_distinct(spark, sf_dir).select(
        F.lit("count_distinct").alias("part"),
        F.col("year").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("sum_totalprice").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
        F.lit(None).cast("double").alias("d5"),
        F.col("n_orders").cast("bigint").alias("n1"),
        F.col("n_customers").cast("bigint").alias("n2"),
    )
    return li.unionByName(cd)


_AGG_STATS_SUITE_SQL = """
SELECT 'lineitem' AS part, l_returnflag AS k1, l_linestatus AS k2,
       round(sum(l_quantity), 2) AS d1,
       round(sum(l_extendedprice), 2) AS d2,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS d3,
       round(avg(l_quantity), 4) AS d4,
       round(avg(l_discount), 4) AS d5,
       count(*) AS n1, CAST(NULL AS BIGINT) AS n2
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
UNION ALL
SELECT 'count_distinct', CAST(CAST(year(o_orderdate) AS INTEGER) AS VARCHAR),
       CAST(NULL AS VARCHAR),
       round(sum(o_totalprice), 2),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       count(*), count(DISTINCT o_custkey)
FROM orders
GROUP BY year(o_orderdate)
"""


def _agg_grouping_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup + cube + GROUPING SETS over the warehouse cube, labeled."""
    rollup = _agg_rollup_year_type(spark, sf_dir).select(
        F.lit("rollup").alias("part"),
        F.col("year").cast("string").alias("key1"),
        F.col("company_type").alias("key2"),
        F.col("revenue").alias("measure"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("gid"),
    )
    cub = _agg_cube_type_category(spark, sf_dir).select(
        F.lit("cube").alias("part"),
        F.col("company_type").alias("key1"),
        F.col("category").alias("key2"),
        F.col("sum_qty").alias("measure"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("gid"),
    )
    gsets = _agg_grouping_sets(spark, sf_dir).select(
        F.lit("gsets").alias("part"),
        F.col("year").cast("string").alias("key1"),
        F.col("country_name").alias("key2"),
        F.col("revenue").alias("measure"),
        F.lit(None).cast("bigint").alias("n_rows"),
        F.col("gid"),
    )
    return rollup.unionByName(cub).unionByName(gsets)


_AGG_GROUPING_SUITE_SQL = _CUBE_CTE + """
SELECT 'rollup' AS part, CAST(year AS VARCHAR) AS key1, company_type AS key2,
       round(sum(quantity * price), 2) AS measure,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(year, company_type) AS INTEGER) AS gid
FROM cube_t GROUP BY ROLLUP (year, company_type)
UNION ALL
SELECT 'cube', company_type, category,
       round(sum(quantity), 2), CAST(count(*) AS BIGINT),
       CAST(GROUPING(company_type, category) AS INTEGER)
FROM cube_t GROUP BY CUBE (company_type, category)
UNION ALL
SELECT 'gsets', CAST(year AS VARCHAR), country_name,
       round(sum(quantity * price), 2), CAST(NULL AS BIGINT),
       CAST(GROUPING(year, country_name) AS INTEGER)
FROM cube_t GROUP BY GROUPING SETS ((year), (country_name), ())
"""


def _window_growth_mavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag growth + 3-month moving average + rank-family functions
    (ntile, percent_rank, cume_dist, first_value) in ONE window pass —
    same partition/order spec, so a single sort covers every frame.
    percent_rank/cume_dist stay unrounded: they are the same integer
    division evaluated by both engines, bit-identical."""
    cube = build_warehouse(spark, sf_dir).cube
    monthly = _monthly_revenue(cube).withColumn(
        "cents", F.round(F.col("revenue") * 100, 0).cast("bigint")
    )
    wlag = Window.partitionBy("country_name").orderBy("year", "month")
    wframe = wlag.rowsBetween(-2, Window.currentRow)
    return monthly.select(
        "country_name",
        "year",
        "month",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(wlag), 2).alias("growth"),
        (
            F.floor(F.sum("cents").over(wframe) / F.count(F.lit(1)).over(wframe))
            / F.lit(100.0)
        ).alias("mavg_3m"),
        F.ntile(4).over(wlag).cast("int").alias("quartile"),
        F.percent_rank().over(wlag).alias("pct_rank"),
        F.cume_dist().over(wlag).alias("cume"),
        F.first_value(F.col("revenue")).over(wlag).alias("first_rev"),
    )


_WINDOW_GROWTH_MAVG_SQL = _MONTHLY_CTE + """
SELECT country_name, year, month, revenue,
       round(revenue - lag(revenue) OVER wl, 2) AS growth,
       floor(sum(CAST(round(revenue * 100, 0) AS BIGINT)) OVER wf
             / count(*) OVER wf) / 100.0 AS mavg_3m,
       CAST(ntile(4) OVER wl AS INTEGER) AS quartile,
       percent_rank() OVER wl AS pct_rank,
       cume_dist() OVER wl AS cume,
       first_value(revenue) OVER wl AS first_rev
FROM monthly
WINDOW wl AS (PARTITION BY country_name ORDER BY year, month),
       wf AS (PARTITION BY country_name ORDER BY year, month
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def _set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT (distinct set semantics), labeled."""
    i = _set_intersect_customers(spark, sf_dir).select(
        F.lit("intersect").alias("op"), "o_custkey"
    )
    e = _set_except_customers(spark, sf_dir).select(
        F.lit("except").alias("op"), "o_custkey"
    )
    return i.unionByName(e)


_SET_OPS_CUSTOMERS_SQL = """
SELECT 'intersect' AS op, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
)
UNION ALL
SELECT 'except', o_custkey FROM (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  EXCEPT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
)
"""


def _set_ops_all_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL + INTERSECT ALL (bag semantics), labeled."""
    e = _set_except_all(spark, sf_dir).select(
        F.lit("except_all").alias("op"), "l_partkey"
    )
    i = _set_intersect_all(spark, sf_dir).select(
        F.lit("intersect_all").alias("op"), "l_partkey"
    )
    return e.unionByName(i)


_SET_OPS_ALL_PARTS_SQL = """
SELECT 'except_all' AS op, l_partkey FROM (
  SELECT l_partkey FROM lineitem
  EXCEPT ALL
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
)
UNION ALL
SELECT 'intersect_all', l_partkey FROM (
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
  INTERSECT ALL
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
)
"""


def _set_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four set operations as one labeled driver row (frees a
    50-row-window slot for round-6 surface): INTERSECT/EXCEPT
    (distinct set semantics, customer keys) + EXCEPT ALL/INTERSECT ALL
    (bag semantics, part keys).  Constituent rows stay in
    WAREHOUSE_SUPPLEMENTARY under their original names."""
    return (
        _set_ops_customers(spark, sf_dir)
        .select("op", F.col("o_custkey").cast("bigint").alias("key"))
        .unionByName(
            _set_ops_all_parts(spark, sf_dir)
            .select("op", F.col("l_partkey").cast("bigint").alias("key"))
        )
    )


_SET_OPS_SUITE_SQL = f"""
SELECT op, CAST(o_custkey AS BIGINT) AS key
FROM ({_SET_OPS_CUSTOMERS_SQL}) c
UNION ALL
SELECT op, CAST(l_partkey AS BIGINT) AS key
FROM ({_SET_OPS_ALL_PARTS_SQL}) p
"""


def _join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER + LEFT SEMI + theta band join, labeled."""
    full = _join_full_outer(spark, sf_dir).select(
        F.lit("full_outer").alias("part"),
        F.col("nationkey").cast("bigint").alias("key"),
        F.lit(None).cast("string").alias("name"),
        F.col("n_cust").cast("bigint").alias("n1"),
        F.col("n_supp").cast("double").alias("n2"),
    )
    semi = _join_semi(spark, sf_dir).select(
        F.lit("semi").alias("part"),
        F.col("c_custkey").cast("bigint").alias("key"),
        F.col("c_name").alias("name"),
        F.lit(None).cast("bigint").alias("n1"),
        F.lit(None).cast("double").alias("n2"),
    )
    theta = _theta_band_join(spark, sf_dir).select(
        F.lit("theta_band").alias("part"),
        F.col("band_id").cast("bigint").alias("key"),
        F.lit(None).cast("string").alias("name"),
        F.col("n_parts").cast("bigint").alias("n1"),
        F.col("avg_price").alias("n2"),
    )
    left = _join_left_outer(spark, sf_dir).select(
        F.lit("left_outer").alias("part"),
        F.col("o_orderkey").cast("bigint").alias("key"),
        F.lit(None).cast("string").alias("name"),
        F.col("n_items").cast("bigint").alias("n1"),
        F.col("total_qty").cast("double").alias("n2"),
    )
    return full.unionByName(semi).unionByName(theta).unionByName(left)


_JOIN_SUITE_SQL = """
SELECT 'full_outer' AS part,
       CAST(coalesce(c.nationkey, s.nationkey) AS BIGINT) AS key,
       CAST(NULL AS VARCHAR) AS name,
       CAST(coalesce(n_cust, 0) AS BIGINT) AS n1,
       CAST(coalesce(n_supp, 0) AS DOUBLE) AS n2
FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
USING (nationkey)
UNION ALL
SELECT 'semi', c_custkey, c_name, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'theta_band', band_id, CAST(NULL AS VARCHAR),
       CAST(count(*) AS BIGINT), round(avg(p_retailprice), 2)
FROM part
JOIN (VALUES (1, 0.0, 500.0), (2, 500.0, 1000.0),
             (3, 1000.0, 1500.0), (4, 1500.0, 1e9)) AS bands(band_id, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id
UNION ALL
SELECT 'left_outer', o_orderkey, CAST(NULL AS VARCHAR),
       CAST(n_items AS BIGINT), CAST(total_qty AS DOUBLE)
FROM (
SELECT o_orderkey,
       coalesce(cnt, 0) AS n_items,
       coalesce(qty, 0.0) AS total_qty
FROM orders
LEFT JOIN (
  SELECT l_orderkey, count(*) AS cnt, round(sum(l_quantity), 2) AS qty
  FROM lineitem GROUP BY l_orderkey
) li ON o_orderkey = li.l_orderkey
) lo
"""


def _filter_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushed-predicate filter + global top-k (TakeOrdered), labeled."""
    f = _filter_orders_predicates(spark, sf_dir).select(
        F.lit("filter").alias("part"),
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
    )
    t = _topk_orders_global(spark, sf_dir).select(
        F.lit("topk").alias("part"),
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(None).cast("string").alias("o_orderpriority"),
    )
    return f.unionByName(t)


_FILTER_TOPK_SQL = """
SELECT 'filter' AS part, o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND o_orderstatus IN ('O', 'F')
  AND o_totalprice > 150000.0
  AND o_orderpriority LIKE '1-%'
UNION ALL
SELECT 'topk', o_orderkey, o_custkey, o_totalprice, CAST(NULL AS VARCHAR)
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 100
)
"""


def _scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction aggregate + string-function surface, labeled."""
    j = _json_extract_events(spark, sf_dir).select(
        F.lit("json").alias("part"),
        F.col("event_type").alias("key"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        F.lit(None).cast("string").alias("s4"),
        F.col("n_events").cast("double").alias("d1"),
        F.col("avg_k").alias("d2"),
        F.col("max_k").cast("double").alias("d3"),
        F.col("sum_value").alias("d4"),
    )
    s = _string_scalars(spark, sf_dir).select(
        F.lit("string").alias("part"),
        F.col("c_custkey").cast("string").alias("key"),
        F.col("segment_upper").alias("s1"),
        F.col("name_prefix").alias("s2"),
        F.col("name_seg").alias("s3"),
        F.col("name_num").alias("s4"),
        F.col("name_len").cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("double").alias("d3"),
        F.lit(None).cast("double").alias("d4"),
    )
    return j.unionByName(s)


_SCALAR_SUITE_SQL = """
SELECT 'json' AS part, event_type AS key,
       CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
       CAST(NULL AS VARCHAR) AS s3, CAST(NULL AS VARCHAR) AS s4,
       CAST(count(*) AS DOUBLE) AS d1,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS d2,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) AS d3,
       round(sum(value), 2) AS d4
FROM events
GROUP BY event_type
UNION ALL
SELECT 'string', CAST(c_custkey AS VARCHAR),
       upper(c_mktsegment),
       substring(c_name, 1, 8),
       c_name || '/' || c_mktsegment,
       coalesce(regexp_extract(c_name, '([0-9]+)$', 1), ''),
       CAST(length(c_name) AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM customer
"""


def _agg_quarter_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter rollup (O11/O12) + pivot-then-unpivot, labeled.  The
    pivot branch runs the real .pivot() plan and unpivots with stack()
    so both engines compare the identical cell set (incl. NULL cells
    for absent year×company combinations)."""
    q = _agg_quarter_revenue(spark, sf_dir).select(
        F.lit("quarter").alias("part"),
        "year",
        F.col("three_months").cast("int").alias("key"),
        F.lit(None).cast("string").alias("company"),
        F.col("revenue"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )
    p = _agg_pivot_company_type(spark, sf_dir).selectExpr(
        "'pivot' AS part",
        "year",
        "CAST(NULL AS INT) AS key",
        "stack(3, 'electric_company', electric_company, "
        "'mechanic_company', mechanic_company, "
        "'industry', industry) AS (company, revenue)",
    ).withColumn("n_rows", F.lit(None).cast("bigint"))
    return q.unionByName(p)


_AGG_QUARTER_PIVOT_SQL = _CUBE_CTE + """, piv AS (
  SELECT year,
         round(sum(CASE WHEN company_type = 'electric_company'
                        THEN quantity * price END), 2) AS electric_company,
         round(sum(CASE WHEN company_type = 'mechanic_company'
                        THEN quantity * price END), 2) AS mechanic_company,
         round(sum(CASE WHEN company_type = 'industry'
                        THEN quantity * price END), 2) AS industry
  FROM cube_t
  GROUP BY year
)
SELECT 'quarter' AS part,
       CAST(year(o_orderdate) AS INTEGER) AS year,
       CAST((quarter(o_orderdate) - 1) * 3 + 1 AS INTEGER) AS key,
       CAST(NULL AS VARCHAR) AS company,
       round(sum(l_quantity * l_extendedprice), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 2, 3
UNION ALL
SELECT 'pivot', year, CAST(NULL AS INT), 'electric_company',
       electric_company, CAST(NULL AS BIGINT) FROM piv
UNION ALL
SELECT 'pivot', year, CAST(NULL AS INT), 'mechanic_company',
       mechanic_company, CAST(NULL AS BIGINT) FROM piv
UNION ALL
SELECT 'pivot', year, CAST(NULL AS INT), 'industry',
       industry, CAST(NULL AS BIGINT) FROM piv
"""


def _cdc_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC application (operators/cdc.py cdc_latest): a synthetic
    change log over orders — full insert load, an update wave touching
    every 10th key, a delete wave touching every 97th — collapsed to
    latest-wins current state in one window pass."""
    from datawarehouse_code_spark.operators.cdc import cdc_latest

    orders = read_table(spark, "orders", sf_dir)
    base = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("I").alias("op"), F.lit(1).cast("int").alias("seq"),
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(2).cast("int").alias("seq"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit("D").alias("op"), F.lit(3).cast("int").alias("seq"),
    )
    log = base.unionByName(updates).unionByName(deletes)
    return cdc_latest(log, ["o_orderkey"], "seq")


_CDC_SQL = """
WITH log AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 'I' AS op, CAST(1 AS INTEGER) AS seq
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice + 1.0, 'U', CAST(2 AS INTEGER)
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, 'D', CAST(3 AS INTEGER)
  FROM orders WHERE o_orderkey % 97 = 0
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM log
)
SELECT o_orderkey, o_custkey, o_totalprice, seq
FROM latest WHERE rn = 1 AND op <> 'D'
"""


def _graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (operators/graph.py) over the
    symmetrized supplier↔customer trade graph (edges = distinct
    (l_suppkey, o_custkey) pairs; node ids disambiguated as 2·supp /
    2·cust+1).  3 iterations, exact integer mass — the second graph
    primitive beside connected components, oracle-checked because
    integer arithmetic is engine-independent."""
    from datawarehouse_code_spark.operators.graph import pagerank_fixed

    li = read_table(spark, "lineitem", sf_dir)
    orders = read_table(spark, "orders", sf_dir)
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionByName(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    # the unionByName above symmetrizes the edge list, so every node
    # provably has an out-edge — skip the dangling precondition scan
    # (two jobs over the full edge list saved per run)
    return pagerank_fixed(edges, iters=3, check_dangling=False)


_PAGERANK_SQL = """
WITH pairs AS (
  SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), outdeg AS (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), params AS (
  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS base FROM nodes
), r0 AS (
  SELECT node, (SELECT base FROM params) AS mass FROM nodes
), it1 AS (
  SELECT n.node,
         CAST((15 * (SELECT base FROM params)
          + 85 * coalesce(sum(r.mass // d.outdeg), 0)) // 100 AS BIGINT) AS mass
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN r0 r ON r.node = e.src
  LEFT JOIN outdeg d ON d.src = e.src
  GROUP BY n.node
), it2 AS (
  SELECT n.node,
         CAST((15 * (SELECT base FROM params)
          + 85 * coalesce(sum(r.mass // d.outdeg), 0)) // 100 AS BIGINT) AS mass
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN it1 r ON r.node = e.src
  LEFT JOIN outdeg d ON d.src = e.src
  GROUP BY n.node
), it3 AS (
  SELECT n.node,
         CAST((15 * (SELECT base FROM params)
          + 85 * coalesce(sum(r.mass // d.outdeg), 0)) // 100 AS BIGINT) AS mass
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN it2 r ON r.node = e.src
  LEFT JOIN outdeg d ON d.src = e.src
  GROUP BY n.node
)
SELECT node, mass FROM it3
"""


# The above-average comparison in exact integer cents: `bal > avg`
# becomes `bal_cents · n > sum_cents` — a raw double avg() threshold
# is summation-order-dependent (engine ulp drift can flip a boundary
# row), the exactness doctrine every oracle here follows.  Two
# correlated scalar subqueries + a correlated NOT EXISTS, all
# decorrelated by Catalyst into joins (plan-verified: no per-row
# subquery execution — the property that keeps the shape viable at
# scale).
_SUBQUERY_TEXT = """
SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
FROM customer c
WHERE CAST(round(c.c_acctbal * 100, 0) AS BIGINT)
      * (SELECT count(*) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT sum(CAST(round(c3.c_acctbal * 100, 0) AS BIGINT))
         FROM customer c3
         WHERE c3.c_nationkey = c.c_nationkey)
  AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND year(o.o_orderdate) = 1998
      )
"""


def _subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries through the SQL surface: customers whose
    balance exceeds their NATION's average (in exact integer cents —
    see _SUBQUERY_TEXT) and who have no 1998 order (correlated NOT
    EXISTS).  The same text runs on DuckDB unchanged."""
    from datawarehouse_code_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SUBQUERY_TEXT)


_SUBQUERY_SQL = _SUBQUERY_TEXT


# Variable-depth traversal through the DECLARATIVE surface: Spark 4
# added WITH RECURSIVE, so hop-bounded reachability no longer needs
# the driver-side loop (operators/graph.py bfs_distances stays the
# scale path — its per-round lineage cuts and early convergence beat
# the planner's unrolling on deep graphs — but the SQL surface now
# covers the idiom, and the IDENTICAL text runs on DuckDB).
# Seeds: suppliers with suppkey % 20 = 0 over the order-co-occurrence
# edge set (deduplicated at (orderkey, suppkey) grain BEFORE the
# self-join — the fan-out lesson from the weighted-paths row).  The
# hop < 3 bound caps the UNION ALL recursion on a cyclic graph, and
# the DISTINCT inside the recursive term is load-bearing: it bounds
# every iteration at ≤ |V| rows.  Without it each step carries PATH
# multiplicity — on the dense co-occurrence graph that's
# seeds·degree^hop rows and trips Spark's
# RECURSION_ROW_LIMIT_EXCEEDED (1e6) at sf0.1.  (Both engines
# iterate on the previous step's working table, so the per-step
# DISTINCT is semantics-identical on Spark and DuckDB.)  The outer
# MIN collapses the node-reached-at-several-hops residue, so the
# result is the exact ≤3-hop BFS distance set.
_RECURSIVE_TEXT = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
), reach(node, hop) AS (
  SELECT DISTINCT src AS node, 0 AS hop FROM edges WHERE src % 20 = 0
  UNION ALL
  SELECT DISTINCT e.dst AS node, r.hop + 1 AS hop
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hop < 3
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hops
FROM reach
GROUP BY node
"""


def _sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE) through the SQL surface —
    ≤3-hop reachability from seed suppliers over the co-occurrence
    graph.  The oracle runs _RECURSIVE_TEXT verbatim on DuckDB; the
    Spark side materializes the EDGE set once before recursing —
    Spark inlines non-recursive CTEs, so leaving `edges` inside the
    recursive query re-runs its two-distinct-scans-plus-self-join
    once per iteration (measured 5.9 s → 1.4 s at sf0.1 with the
    edge frame cut and registered as a view).  The driver-loop twin
    is operators/graph.py bfs_distances (the supplier_bfs oracle
    row), so the two traversal surfaces check each other."""
    from datawarehouse_code_spark.sources.catalog import read_table

    # deduped under a repartition on the join key alone (r17, guide
    # §2.4): one exchange serves the dedup and both self-join sides —
    # see _supplier_cooccurrence_edges
    li = (
        read_table(spark, "lineitem", sf_dir)
        .select(
            F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
        )
        .repartition("o")
        .dropDuplicates(["o", "s"])
    )
    edges = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.o") == F.col("b.o")) & (F.col("a.s") != F.col("b.s")),
        )
        .select(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
        .distinct()
    )
    edges = cut_lineage(edges)
    # per-call unique view name: temp views are SESSION-global, so a
    # fixed name races under concurrent invocations (thread B's
    # createOrReplaceTempView landing between A's registration and
    # A's spark.sql would silently swap A's edge set).  spark.sql
    # analyzes eagerly — the view's plan is inlined into the returned
    # DataFrame at this call — so the view is dropped immediately
    # after; neither the name nor the catalog entry outlives the call.
    view = f"_rcte_edges_{uuid.uuid4().hex}"
    edges.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
WITH RECURSIVE reach(node, hop) AS (
  SELECT DISTINCT src AS node, 0 AS hop FROM {view} WHERE src % 20 = 0
  UNION ALL
  SELECT DISTINCT e.dst AS node, r.hop + 1 AS hop
  FROM reach r JOIN {view} e ON e.src = r.node
  WHERE r.hop < 3
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hops
FROM reach
GROUP BY node
"""
        )
    finally:
        spark.catalog.dropTempView(view)


_RECURSIVE_SQL = _RECURSIVE_TEXT


# LATERAL correlated subquery — ONE text, run verbatim by BOTH engines
# (the recursive-CTE precedent): per-customer top-2 orders by price.
# Spark 4 decorrelates the LIMIT-bearing lateral into a ranked join;
# DuckDB executes it directly — the hash row pins that the decorrelated
# plan and the direct evaluation agree, values, ties and all (floor-2
# price scaling and the (price DESC, o_orderkey ASC) tiebreak keep the
# comparison exact cross-engine).
_LATERAL_TEXT = """
SELECT c_custkey, o_orderkey, o_totalprice_f2
FROM (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0) c,
LATERAL (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS o_totalprice_f2
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 2
) t
"""


def _sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL subquery through the SQL surface (§2.2 SQL extras,
    beside the recursive CTE): for every 100th customer, the top-2
    orders by price via a correlated LIMIT subquery in FROM.  The
    oracle runs _LATERAL_TEXT verbatim on DuckDB; Spark analyzes the
    same text against per-call unique temp views (dropped immediately
    — spark.sql analyzes eagerly, so neither name outlives the call).
    Scale shape: Catalyst decorrelates to a per-key ranked join (the
    window is partitioned by the correlation key, never global)."""
    from datawarehouse_code_spark.sources.catalog import read_table

    cv = f"_lat_customer_{uuid.uuid4().hex}"
    ov = f"_lat_orders_{uuid.uuid4().hex}"
    read_table(spark, "customer", sf_dir).createOrReplaceTempView(cv)
    read_table(spark, "orders", sf_dir).createOrReplaceTempView(ov)
    try:
        return spark.sql(
            _LATERAL_TEXT.replace("customer", cv).replace("orders", ov)
        )
    finally:
        spark.catalog.dropTempView(cv)
        spark.catalog.dropTempView(ov)


_LATERAL_SQL = _LATERAL_TEXT


WAREHOUSE_QUERIES: list[Query] = [
    Query("agg_revenue_year_country", _agg_revenue_year_country, _AGG_REVENUE_SQL,
          "§2.2 aggregates: the cube's flagship GROUP BY"),
    Query("cdc_upsert_latest", _cdc_upsert_latest, _CDC_SQL,
          "§2.2 CDC change-log application: latest-wins upsert + deletes, one window pass"),
    Query("graph_pagerank", _graph_pagerank, _PAGERANK_SQL,
          "§2.2 iterative graph: integer fixed-point PageRank (beside corpus connected components)"),
    Query("subquery_above_avg", _subquery_above_avg, _SUBQUERY_SQL,
          "§2.2 correlated scalar subquery + NOT EXISTS (Catalyst decorrelation)"),
    Query("agg_stats_suite", _agg_stats_suite, _AGG_STATS_SUITE_SQL,
          "§2.2 aggregates: TPC-H Q1 shape (pushed filter) + countDistinct"),
    Query("agg_grouping_suite", _agg_grouping_suite, _AGG_GROUPING_SUITE_SQL,
          "§2.2 rollup + cube() + GROUPING SETS + grouping_id"),
    Query("agg_quarter_pivot", _agg_quarter_pivot, _AGG_QUARTER_PIVOT_SQL,
          "§2.2 quarter derivation (O11/O12) + pivot (explicit value list)"),
    Query("window_topk_products", _window_topk_products, _WINDOW_TOPK_SQL,
          "§2.2 window rank top-k per group"),
    Query("window_growth_mavg", _window_growth_mavg, _WINDOW_GROWTH_MAVG_SQL,
          "§2.2 window lag + sliding frame (one window pass)"),
    Query("filter_topk_orders", _filter_topk_orders, _FILTER_TOPK_SQL,
          "§2.2 filters BETWEEN/IN/LIKE + global sort-limit (TakeOrdered)"),
    Query("set_ops_suite", _set_ops_suite, _SET_OPS_SUITE_SQL,
          "§2.2 set + bag semantics: INTERSECT/EXCEPT + EXCEPT ALL/"
          "INTERSECT ALL, labeled"),
    Query("scalar_suite", _scalar_suite, _SCALAR_SUITE_SQL,
          "§2.2 JSON scalars (from_json) + string scalar surface"),
    Query("join_suite", _join_suite, _JOIN_SUITE_SQL,
          "§2.2 left/full outer + semi (EXISTS) + theta/range join"),
    Query("interval_join_shipments", _interval_join_shipments, _INTERVAL_JOIN_SQL,
          "§2.2 big-big range join binned to a bucket equi-join"),
    Query("dq_audit_orders", _dq_audit_orders, _DQ_AUDIT_SQL,
          "§2.2 data-quality audit (null/unique/FK/range, one report)"),
    Query("dim_client_scd2", _dim_client_scd2, _SCD2_SQL,
          "§2.2 SCD type-2 dimension merge (close/open/carry in one join)"),
    Query("asof_join_events", _asof_join_events, _ASOF_SQL,
          "§2.2 as-of join (backward): union+window, no range-join explosion"),
]

# Appended below (function defined after the list): the round-6
# maintenance suite takes the registry's 50th and last oracle slot.

# Constituents of the suites above: still first-class library queries —
# benchable, unit-tested, importable — just not separate driver rows.
def _rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/rollup.py): the
    orders history split into a stored partial (o_orderkey % 3 != 0)
    and a delta (% 3 == 0), each partially aggregated and then
    MERGED — the result must equal the one-shot rebuild, which is
    exactly what the DuckDB oracle computes (full GROUP BY over all
    orders).  Measures in exact integer cents (the graph.py
    exactness doctrine: double sums are summation-order-dependent)."""
    from datawarehouse_code_spark.operators.rollup import (
        aggregate_delta,
        merge_rollup,
    )

    orders = read_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("price_cents"),
    )
    keys = ["o_orderstatus", "yr"]
    hist = aggregate_delta(
        orders.filter(F.col("o_orderkey") % 3 != 0), keys, ["price_cents"]
    )
    delta = aggregate_delta(
        orders.filter(F.col("o_orderkey") % 3 == 0), keys, ["price_cents"]
    )
    return merge_rollup(hist, delta, keys)


_ROLLUP_MERGE_SQL = """
SELECT o_orderstatus, year(o_orderdate) AS yr,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       count(*) AS n_rows
FROM orders
GROUP BY 1, 2
"""


def _rollup_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete propagation into the maintained rollup
    (operators/rollup.py retract_delta + compact_rollup): build the
    full orders rollup, then retract every order of the customers
    being deleted (o_custkey % 7 == 0) as a negated partial through
    the SAME merge path.  The oracle rebuilds from the surviving rows
    only — merge-then-retract must be indistinguishable from never
    having loaded the deleted rows, including groups that vanish
    entirely."""
    from datawarehouse_code_spark.operators.rollup import (
        aggregate_delta,
        compact_rollup,
        merge_rollup,
        retract_delta,
    )

    orders = read_table(spark, "orders", sf_dir).select(
        "o_custkey",
        "o_orderstatus",
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("price_cents"),
    )
    keys = ["o_orderstatus", "yr"]
    full = aggregate_delta(orders, keys, ["price_cents"])
    gone = retract_delta(
        orders.filter(F.col("o_custkey") % 7 == 0), keys, ["price_cents"]
    )
    return compact_rollup(merge_rollup(full, gone, keys))


_ROLLUP_RETRACT_SQL = """
SELECT o_orderstatus, year(o_orderdate) AS yr,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       count(*) AS n_rows
FROM orders
WHERE o_custkey % 7 <> 0
GROUP BY 1, 2
"""


def _rollup_hist_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-percentile maintenance (operators/rollup.py
    histogram_delta + merge_rollup + percentile_from_histogram): the
    orders history split into two histogram partials, MERGED, then
    p50/p90/p99 of o_totalprice (cents, 10000-cent bins) read off the
    merged counts.  The oracle computes the same bin-granularity
    percentiles directly from all rows — merge-then-extract must be
    indistinguishable from one-shot extraction, with the target rank
    in pure integer arithmetic on both sides."""
    from datawarehouse_code_spark.operators.rollup import (
        histogram_delta,
        merge_rollup,
        percentile_from_histogram,
    )

    orders = read_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    width = 1_000_000
    h1 = histogram_delta(
        orders.filter(F.col("o_orderkey") % 3 != 0), ["o_orderstatus"], "cents", width
    )
    h2 = histogram_delta(
        orders.filter(F.col("o_orderkey") % 3 == 0), ["o_orderstatus"], "cents", width
    )
    merged = merge_rollup(h1, h2, ["o_orderstatus", "bin"])
    return percentile_from_histogram(
        merged, ["o_orderstatus"], width, [5000, 9000, 9900]
    )


_ROLLUP_HIST_SQL = """
WITH b AS (
  SELECT o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), hist AS (
  SELECT o_orderstatus, cents // 1000000 AS bin, count(*) AS n_rows
  FROM b GROUP BY 1, 2
), c AS (
  SELECT o_orderstatus, bin, n_rows,
         sum(n_rows) OVER (PARTITION BY o_orderstatus ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n_rows) OVER (PARTITION BY o_orderstatus) AS total
  FROM hist
), p AS (
  SELECT unnest([5000, 9000, 9900]) AS p_bp
)
SELECT o_orderstatus, p_bp,
       CAST(min(CASE WHEN cum >= (p_bp * total + 9999) // 10000
                     THEN bin END) * 1000000 AS BIGINT) AS bin_lo,
       CAST(max(total) AS BIGINT) AS n
FROM c CROSS JOIN p
GROUP BY 1, 2
"""


def _supplier_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared supplier co-occurrence edge set (a < b connected by
    a common order), built distinct-FIRST: (orderkey, suppkey) is
    de-duplicated before the self-join — an order lists the same
    supplier on several lineitems, so the raw self-join fans every
    pair out per duplicate lineitem and then pays a bigger distinct.
    Same edge set, smaller join (~25% measured on the weighted-paths
    row); the oracles keep the raw-join spelling (same values).

    The dedup repartitions by l_orderkey ALONE (r17, guide §2.4):
    hash-partitioning on the join key satisfies the (orderkey,
    suppkey) dropDuplicates clustering requirement AND the self-join's
    distribution, so one exchange serves both where distinct() paid
    its own (orderkey, suppkey) exchange plus a re-shuffle onto
    orderkey per join side (~30% measured on this build)."""
    li = (
        read_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_suppkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    x = li.alias("x")
    y = li.alias("y")
    return (
        x.join(y, F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b")
        )
        .distinct()
    )


def _supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py triangle_counts,
    degree-ordered node-iterator) over the supplier co-occurrence
    graph: suppliers are connected when they ship lineitems of the
    same order.  The oracle enumerates each triangle once through the
    canonical a<b<c construction — orientation strategy differs,
    triangle SET must not."""
    from datawarehouse_code_spark.operators.graph import triangle_counts

    return triangle_counts(_supplier_cooccurrence_edges(spark, sf_dir))


def _supplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators/graph.py label_propagation)
    over the same supplier co-occurrence graph as supplier_triangles /
    supplier_bfs: 4 synchronous LPA rounds, neighbor-majority label
    with min-label tie-break — both rules deterministic, so the oracle
    UNROLLS the identical rounds in SQL and the driver hash pins every
    per-node label (a wrong majority count, tie-break, or round order
    all hash-fail)."""
    from datawarehouse_code_spark.operators.graph import label_propagation

    edges = _supplier_cooccurrence_edges(spark, sf_dir)
    return label_propagation(edges, n_rounds=4).select(
        "node", F.col("label").alias("community")
    )


def _lpa_sql(n_rounds: int = 4) -> str:
    """The LPA oracle: symmetric edge CTE + one (count, argmax) CTE
    pair per unrolled round — generated, not hand-copied, so the round
    count stays in one place."""
    parts = [
        """
WITH e AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_suppkey <> y.l_suppkey
), l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM e
)"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(f""", c{r} AS (
  SELECT e.a AS node, l.label, count(*) AS cnt
  FROM e JOIN l{r - 1} l ON e.b = l.node
  GROUP BY 1, 2
), l{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label ASC) AS rk
    FROM c{r}
  ) WHERE rk = 1
)""")
    parts.append(f"\nSELECT node, label AS community FROM l{n_rounds}")
    return "".join(parts)


_LPA_SQL = _lpa_sql(4)


def _supplier_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (operators/graph.py
    weighted_shortest_paths) over the supplier co-occurrence graph
    with edge weight = greatest(1, 10 − n shared orders) — strongly
    co-trading suppliers are "close".  4 relaxation rounds; the oracle
    replays the IDENTICAL ≤4-edge semantics with a hop-bounded
    recursive CTE, so every per-node distance is hash-pinned (a wrong
    min-merge, weight aggregation, or round count hash-fails)."""
    from datawarehouse_code_spark.operators.graph import (
        weighted_shortest_paths,
    )

    # pre-distinct (order, supplier) BEFORE the self-join: an order
    # lists the same supplier on several lineitems, so the raw
    # self-join repeats (a, b) per order and needs countDistinct; the
    # distinct-first shape joins a smaller table AND counts plainly —
    # identical n_shared, one expensive distinct-agg less (the oracle
    # keeps the countDistinct spelling; same values).  Deduped under a
    # repartition on the JOIN key alone (r17, guide §2.4): one
    # exchange serves the dedup and both self-join sides — see
    # _supplier_cooccurrence_edges.
    li = (
        read_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_suppkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    x = li.alias("x")
    y = li.alias("y")
    edges = (
        x.join(y, F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .groupBy(
            F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "a", "b",
            F.greatest(F.lit(1), F.lit(10) - F.col("n_shared"))
            .cast("bigint").alias("w"),
        )
    )
    seeds = (
        read_table(spark, "supplier", sf_dir)
        .filter(F.col("s_suppkey") % 25 == 0)
        .select(F.col("s_suppkey").alias("node"))
    )
    return weighted_shortest_paths(edges, seeds, max_rounds=4)


_WSP_SQL = """
WITH RECURSIVE pairs AS (
  SELECT x.l_suppkey AS a, y.l_suppkey AS b,
         count(DISTINCT x.l_orderkey) AS n_shared
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_suppkey < y.l_suppkey
  GROUP BY 1, 2
), e AS (
  SELECT a, b, CAST(greatest(1, 10 - n_shared) AS BIGINT) AS w FROM pairs
  UNION ALL
  SELECT b, a, CAST(greatest(1, 10 - n_shared) AS BIGINT) AS w FROM pairs
), seeds AS (
  SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 25 = 0
), reach(node, dist, hops) AS (
  SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
  UNION
  SELECT e.b, reach.dist + e.w, reach.hops + 1
  FROM e JOIN reach ON e.a = reach.node
  WHERE reach.hops < 4
)
SELECT node, min(dist) AS dist FROM reach GROUP BY node
"""


def _supplier_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from a seed supplier set (operators/graph.py
    bfs_distances) over the same co-occurrence graph as
    supplier_triangles: seeds are every 25th supplier; output is the
    exact min-hop distance for every reachable supplier.  The oracle
    replays it as a recursive CTE with min-dedup — a wrong frontier
    merge, an off-by-one hop, or premature convergence all
    hash-fail."""
    from datawarehouse_code_spark.operators.graph import bfs_distances

    edges = _supplier_cooccurrence_edges(spark, sf_dir)
    seeds = (
        read_table(spark, "supplier", sf_dir)
        .filter(F.col("s_suppkey") % 25 == 0)
        .select(F.col("s_suppkey").alias("node"))
    )
    out = bfs_distances(edges, seeds, max_hops=10)
    return out.select("node", F.col("dist").cast("int").alias("dist"))


_BFS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_suppkey <> y.l_suppkey
), seeds AS (
  SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 25 = 0
), reach(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.b, reach.dist + 1
  FROM e JOIN reach ON e.a = reach.node
  WHERE reach.dist < 10
)
SELECT node, CAST(min(dist) AS INT) AS dist FROM reach GROUP BY node
"""


_TRIANGLES_SQL = """
WITH e AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_suppkey < y.l_suppkey
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, count(*) AS n_triangles
FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY node
"""


def _events_pit_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup (operators/scd.py
    scd2_point_in_time_join): every event joined to the client-dim
    VERSION valid on its event date.  Against the dim_client_scd2
    dimension, January-2024 events land before the 2024-06-01
    snapshot, so changed clients resolve to their CLOSED first
    version (the whole point of SCD2 — today's attributes must not
    rewrite last year's facts), %7==0 clients (first seen 2024-06-01)
    resolve to NULL, and the rest to their open version."""
    from datawarehouse_code_spark.operators.scd import (
        scd2_point_in_time_join,
    )

    dim = _dim_client_scd2(spark, sf_dir)
    facts = read_table(spark, "events", sf_dir).select(
        "event_id", F.col("user_id").alias("client_id"), "ts"
    )
    out = scd2_point_in_time_join(facts, dim, ["client_id"], "ts")
    return out.select(
        "event_id", "client_id", "acctbal", "valid_from", "is_current"
    )


def _pit_sql() -> str:
    return f"""
WITH dim AS ({_SCD2_SQL})
SELECT e.event_id, e.user_id AS client_id, d.acctbal, d.valid_from,
       d.is_current
FROM events e
LEFT JOIN dim d
  ON d.client_id = e.user_id
 AND d.valid_from <= CAST(e.ts AS DATE)
 AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) < d.valid_to)
"""


def _orders_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days in the per-status daily order counts
    (operators/quality.py anomaly_report): |x − median| · 10⁴ >
    30000 · MAD with discrete per-key quantiles — the ops check a
    maintained rollup feeds.  All-integer threshold arithmetic; the
    oracle replays the identical index/threshold definitions."""
    from datawarehouse_code_spark.operators.quality import anomaly_report

    daily = (
        read_table(spark, "orders", sf_dir)
        .groupBy("o_orderstatus", F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return anomaly_report(
        daily, ["o_orderstatus"], "d", "n_orders", k_bp=30_000
    )


_ANOMALY_SQL = """
WITH daily AS (
  SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS d,
         count(*) AS n_orders
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY n_orders) - 1 AS rn,
         count(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM daily
), med AS (
  SELECT o_orderstatus,
         max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT)
                  THEN n_orders END) AS med
  FROM ranked GROUP BY 1
), devs AS (
  SELECT d.*, m.med, abs(d.n_orders - m.med) AS dev
  FROM daily d JOIN med m USING (o_orderstatus)
), ranked_d AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY dev) - 1 AS rn,
         count(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM devs
), mad AS (
  SELECT o_orderstatus,
         max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT)
                  THEN dev END) AS mad
  FROM ranked_d GROUP BY 1
)
SELECT v.o_orderstatus, v.d, v.n_orders, v.med, v.mad, v.dev
FROM (SELECT dv.*, md.mad FROM devs dv JOIN mad md USING (o_orderstatus)) v
WHERE v.dev * 10000 > 30000 * v.mad
"""


def _orders_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/cdc.py table_diff) over deterministic
    variants of orders: keys %7==0 deleted, surviving %5==0 keys
    price-bumped, +10M keys inserted.  The oracle classifies through
    the same null-safe full-outer construction; completeness (diff
    applied to old == new) is pinned by pytest."""
    from datawarehouse_code_spark.operators.cdc import table_diff

    old = read_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    kept = old.filter(F.col("o_orderkey") % 7 != 0)
    new = kept.withColumn(
        "cents",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("cents") + 1).otherwise(
            F.col("cents")
        ),
    ).unionByName(
        old.filter(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_orderstatus",
            "cents",
        )
    )
    return table_diff(old, new, ["o_orderkey"])


_TABLE_DIFF_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), n AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN cents + 1 ELSE cents END AS cents
  FROM o WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, cents
  FROM o WHERE o_orderkey % 11 = 0
), j AS (
  SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
         o.o_orderstatus AS os, n.o_orderstatus AS ns,
         o.cents AS oc, n.cents AS nc,
         o.o_orderkey IS NOT NULL AS in_o,
         n.o_orderkey IS NOT NULL AS in_n
  FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey
)
SELECT CASE WHEN NOT in_o THEN 'I'
            WHEN NOT in_n THEN 'D'
            ELSE 'U' END AS op,
       CASE WHEN in_n THEN nk ELSE ok END AS o_orderkey,
       CASE WHEN in_n THEN ns ELSE os END AS o_orderstatus,
       CASE WHEN in_n THEN nc ELSE oc END AS cents
FROM j
WHERE NOT in_o OR NOT in_n
   OR os IS DISTINCT FROM ns OR oc IS DISTINCT FROM nc
"""


def _skew_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnosis (operators/quality.py skew_report): the
    20 heaviest l_suppkey groups of lineitem with floor-scaled corpus
    share — deterministic tie-break (count desc, key asc) so both
    engines cut the same top-20."""
    from datawarehouse_code_spark.operators.quality import skew_report

    return skew_report(read_table(spark, "lineitem", sf_dir), ["l_suppkey"], 20)


_SKEW_SQL = """
WITH c AS (
  SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1
), t AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c
)
SELECT l_suppkey, n_rows,
       floor(n_rows * 1.0 / total * 10000) / 10000 AS share_f4
FROM c, t
ORDER BY n_rows DESC, l_suppkey ASC
LIMIT 20
"""


def _maintenance_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three round-6 maintenance/scale operators as one labeled
    driver row (the registry's 50-row window had exactly one oracle
    slot left): incremental rollup merge ≡ rebuild
    (operators/rollup.py), heavy-hitter skew report
    (operators/quality.py), and incremental near-dup against the
    persisted LSH index (operators/text.py).  Constituents stay
    independently benchable/testable via WAREHOUSE_SUPPLEMENTARY /
    LLM_SUPPLEMENTARY; this row is what puts all three under the
    driver's cross-engine hash gate every round.

    Shared schema: part, k1 (string key), n1/n2/n3 (exact integers),
    f1 (floor-scaled fraction):
      part='rollup':  k1=o_orderstatus, n1=yr, n2=sum_price_cents, n3=n_rows
      part='retract': same shape, after delete propagation (must equal
                      a rebuild over the surviving rows)
      part='hist':    k1=o_orderstatus, n1=p_bp, n2=bin_lo, n3=n
                      (merged-histogram percentiles ≡ one-shot)
      part='skew':    n1=l_suppkey, n2=n_rows, f1=share_f4
      part='incdup':  n1=d_new, n2=d_corpus, f1=jaccard_f4
    """
    # Deferred import: llm_queries is heavier (operator imports) and
    # only this suite needs it here; no cycle (llm_queries never
    # imports this module).
    from datawarehouse_code_spark.plans.llm_queries import _incremental_near_dup

    nb = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    rollup = _rollup_merge(spark, sf_dir).select(
        F.lit("rollup").alias("part"),
        F.col("o_orderstatus").alias("k1"),
        F.col("yr").cast("bigint").alias("n1"),
        F.col("sum_price_cents").cast("bigint").alias("n2"),
        F.col("n_rows").cast("bigint").alias("n3"),
        nd.alias("f1"),
    )
    skew = _skew_suppliers(spark, sf_dir).select(
        F.lit("skew").alias("part"),
        F.lit(None).cast("string").alias("k1"),
        F.col("l_suppkey").cast("bigint").alias("n1"),
        F.col("n_rows").cast("bigint").alias("n2"),
        nb.alias("n3"),
        F.col("share_f4").cast("double").alias("f1"),
    )
    hist = _rollup_hist_percentiles(spark, sf_dir).select(
        F.lit("hist").alias("part"),
        F.col("o_orderstatus").alias("k1"),
        F.col("p_bp").cast("bigint").alias("n1"),
        F.col("bin_lo").cast("bigint").alias("n2"),
        F.col("n").cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("f1"),
    )
    retract = _rollup_retract(spark, sf_dir).select(
        F.lit("retract").alias("part"),
        F.col("o_orderstatus").alias("k1"),
        F.col("yr").cast("bigint").alias("n1"),
        F.col("sum_price_cents").cast("bigint").alias("n2"),
        F.col("n_rows").cast("bigint").alias("n3"),
        nd.alias("f1"),
    )
    incdup = _incremental_near_dup(spark, sf_dir).select(
        F.lit("incdup").alias("part"),
        F.lit(None).cast("string").alias("k1"),
        F.col("d_new").cast("bigint").alias("n1"),
        F.col("d_corpus").cast("bigint").alias("n2"),
        nb.alias("n3"),
        F.col("jaccard_f4").cast("double").alias("f1"),
    )
    return (
        rollup.unionByName(retract)
        .unionByName(hist)
        .unionByName(skew)
        .unionByName(incdup)
    )


def _maintenance_suite_sql() -> str:
    """Built lazily-by-name at module bottom (after _SKEW_SQL exists);
    pulls the incdup branch's SQL from llm_queries, branch-for-branch
    with the Spark union above."""
    from datawarehouse_code_spark.plans.llm_queries import (
        _INCREMENTAL_NEAR_DUP_SQL,
    )

    return f"""
SELECT 'rollup' AS part, o_orderstatus AS k1,
       CAST(yr AS BIGINT) AS n1, sum_price_cents AS n2, n_rows AS n3,
       CAST(NULL AS DOUBLE) AS f1
FROM ({_ROLLUP_MERGE_SQL}) r
UNION ALL
SELECT 'retract', o_orderstatus, CAST(yr AS BIGINT), sum_price_cents,
       n_rows, CAST(NULL AS DOUBLE)
FROM ({_ROLLUP_RETRACT_SQL}) rt
UNION ALL
SELECT 'hist', o_orderstatus, CAST(p_bp AS BIGINT), bin_lo, n,
       CAST(NULL AS DOUBLE)
FROM ({_ROLLUP_HIST_SQL}) h
UNION ALL
SELECT 'skew', CAST(NULL AS VARCHAR), CAST(l_suppkey AS BIGINT),
       n_rows, CAST(NULL AS BIGINT), share_f4
FROM ({_SKEW_SQL}) s
UNION ALL
SELECT 'incdup', CAST(NULL AS VARCHAR), d_new, d_corpus,
       CAST(NULL AS BIGINT), jaccard_f4
FROM ({_INCREMENTAL_NEAR_DUP_SQL}) i
"""


_MAINTENANCE_SUITE_SQL = _maintenance_suite_sql()

WAREHOUSE_QUERIES.append(
    Query("maintenance_suite", _maintenance_suite, _MAINTENANCE_SUITE_SQL,
          "round-6 maintenance/scale ops: rollup merge ≡ rebuild + "
          "skew report + incremental near-dup vs persisted LSH index")
)


def _orders_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — the window-family member the
    rows-frame queries can't express: per customer, the trailing
    30-DAY order total and count at each order date (orders are
    irregularly spaced, so "previous N rows" ≠ "previous 30 days").
    Implemented as a RANGE frame over epoch seconds (integer range
    bounds evaluate identically in both engines); revenue summed in
    integer cents inside the frame, divided once at the end — no
    float accumulation order crosses engines."""
    orders = read_table(spark, "orders", sf_dir)
    base = orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("od"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    ).withColumn("epoch_s", F.unix_seconds(F.col("od")))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_s")
        .rangeBetween(-30 * 86400, 0)
    )
    return base.select(
        "o_custkey",
        "o_orderkey",
        F.col("od").alias("o_orderdate"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        (F.sum("cents").over(w) / F.lit(100.0)).alias("rev_30d"),
    )


_TRAILING_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       count(*) OVER w AS n_orders_30d,
       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER w / 100.0
         AS rev_30d
FROM orders
WINDOW w AS (
  PARTITION BY o_custkey
  ORDER BY epoch(o_orderdate)
  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
)
"""


def _dim_client_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-3 merge (operators/scd.py scd3_merge) over the same
    scenario as dim_client_scd2: changed balances move to the
    current column with the superseded value in prev_acctbal and the
    change date stamped; new keys carry NULL prevs; unchanged rows
    keep their history columns.  One key equi-join, no row
    fan-out."""
    from datawarehouse_code_spark.operators.scd import scd3_init, scd3_merge

    base = read_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("client_id"),
        F.col("c_name").alias("company_name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    dim = scd3_init(
        base.filter(F.col("client_id") % 7 != 0),
        ["client_id"], ["company_name", "acctbal"],
    )
    snap = base.withColumn(
        "acctbal",
        F.when(F.col("client_id") % 10 == 0, F.col("acctbal") + 100).otherwise(
            F.col("acctbal")
        ),
    )
    return scd3_merge(
        dim, snap, ["client_id"], ["company_name", "acctbal"], "2024-06-01"
    )


_SCD3_SQL = """
WITH init AS (
  SELECT c_custkey AS client_id, c_name AS company_name, c_acctbal AS acctbal
  FROM customer WHERE c_custkey % 7 <> 0
), snap AS (
  SELECT c_custkey AS client_id, c_name AS company_name,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
              ELSE c_acctbal END AS acctbal
  FROM customer
)
SELECT COALESCE(i.client_id, s.client_id) AS client_id,
       CASE WHEN i.client_id IS NULL
              OR (i.company_name IS DISTINCT FROM s.company_name
                  OR i.acctbal IS DISTINCT FROM s.acctbal)
                 AND s.client_id IS NOT NULL
            THEN s.company_name ELSE i.company_name END AS company_name,
       CASE WHEN i.client_id IS NULL
              OR (i.company_name IS DISTINCT FROM s.company_name
                  OR i.acctbal IS DISTINCT FROM s.acctbal)
                 AND s.client_id IS NOT NULL
            THEN s.acctbal ELSE i.acctbal END AS acctbal,
       CASE WHEN i.client_id IS NOT NULL AND s.client_id IS NOT NULL
                 AND (i.company_name IS DISTINCT FROM s.company_name
                      OR i.acctbal IS DISTINCT FROM s.acctbal)
            THEN i.company_name END AS prev_company_name,
       CASE WHEN i.client_id IS NOT NULL AND s.client_id IS NOT NULL
                 AND (i.company_name IS DISTINCT FROM s.company_name
                      OR i.acctbal IS DISTINCT FROM s.acctbal)
            THEN i.acctbal END AS prev_acctbal,
       CASE WHEN i.client_id IS NOT NULL AND s.client_id IS NOT NULL
                 AND (i.company_name IS DISTINCT FROM s.company_name
                      OR i.acctbal IS DISTINCT FROM s.acctbal)
            THEN DATE '2024-06-01' END AS changed_at
FROM init i FULL OUTER JOIN snap s ON i.client_id = s.client_id
"""


def _asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/joins.py asof_join_forward): each
    click picks up the EARLIEST view at-or-after its timestamp — the
    "next action" lookup.  Views are pre-deduped to one row per
    (user, ts) (max event_id, its value) so the oracle's native ASOF
    JOIN and the window implementation choose identically."""
    from datawarehouse_code_spark.operators.joins import asof_join_forward

    events = read_table(spark, "events", sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = (
        events.filter(
            (F.col("event_type") == "view") & F.col("ts").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_event_id"),
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    return asof_join_forward(
        clicks, views,
        keys=["user_id"], ts_col="ts",
        payload_cols=["view_event_id", "view_value"],
    )


_ASOF_FORWARD_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts,
         max(event_id) AS view_event_id,
         max_by(value, event_id) AS view_value
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT c.user_id, c.ts, c.event_id,
       v.view_event_id AS asof_view_event_id,
       v.view_value AS asof_view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts <= v.ts
"""


def _orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profile over orders (operators/quality.py profile_table):
    per column — rows, NULLs, exact distincts, min/max as strings —
    one single-column aggregation branch per column (the shape that
    beats the expand-based multi-distinct pass ~6×).  Timestamps are
    pre-rendered with a shared format so the string casts agree
    across engines."""
    from datawarehouse_code_spark.operators.quality import profile_table

    orders = read_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
        "o_orderpriority",
    )
    return profile_table(orders)


_PROFILE_SQL = """
WITH prep AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
         o_orderpriority
  FROM orders
), agg AS (
  SELECT count(*) AS n_rows,
         count(*) - count(o_orderkey) AS nulls_1,
         count(DISTINCT o_orderkey) AS nd_1,
         CAST(min(o_orderkey) AS VARCHAR) AS mn_1,
         CAST(max(o_orderkey) AS VARCHAR) AS mx_1,
         count(*) - count(o_custkey) AS nulls_2,
         count(DISTINCT o_custkey) AS nd_2,
         CAST(min(o_custkey) AS VARCHAR) AS mn_2,
         CAST(max(o_custkey) AS VARCHAR) AS mx_2,
         count(*) - count(o_orderstatus) AS nulls_3,
         count(DISTINCT o_orderstatus) AS nd_3,
         min(o_orderstatus) AS mn_3,
         max(o_orderstatus) AS mx_3,
         count(*) - count(o_orderdate_s) AS nulls_4,
         count(DISTINCT o_orderdate_s) AS nd_4,
         min(o_orderdate_s) AS mn_4,
         max(o_orderdate_s) AS mx_4,
         count(*) - count(o_orderpriority) AS nulls_5,
         count(DISTINCT o_orderpriority) AS nd_5,
         min(o_orderpriority) AS mn_5,
         max(o_orderpriority) AS mx_5
  FROM prep
)
SELECT 'o_orderkey' AS col, n_rows, nulls_1 AS n_nulls, nd_1 AS n_distinct,
       mn_1 AS min_value, mx_1 AS max_value FROM agg
UNION ALL
SELECT 'o_custkey', n_rows, nulls_2, nd_2, mn_2, mx_2 FROM agg
UNION ALL
SELECT 'o_orderstatus', n_rows, nulls_3, nd_3, mn_3, mx_3 FROM agg
UNION ALL
SELECT 'o_orderdate_s', n_rows, nulls_4, nd_4, mn_4, mx_4 FROM agg
UNION ALL
SELECT 'o_orderpriority', n_rows, nulls_5, nd_5, mn_5, mx_5 FROM agg
"""


def _orders_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between order eras (operators/quality.py
    drift_report): pre-1998 orders as the reference, 1998+ as
    current, over integer-converted o_totalprice cents and
    epoch-day order dates.  The date column drifts by construction
    (every current value is above the reference max → bucket 10),
    the price column should NOT drift materially — the report shows
    both, all-integer, bucket arithmetic replayed by the oracle."""
    from datawarehouse_code_spark.operators.quality import drift_report

    orders = read_table(spark, "orders", sf_dir)
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")

    def prep(df: DataFrame) -> DataFrame:
        return df.select(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("total_cents"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("order_epoch_day"),
        )

    out = drift_report(
        prep(orders.filter(F.col("o_orderdate") < cut)),
        prep(orders.filter(F.col("o_orderdate") >= cut)),
        ["total_cents", "order_epoch_day"],
        n_buckets=10,
    )
    return out.select(
        "col",
        F.col("bucket").cast("int").alias("bucket"),
        "n_ref", "n_cur", "ref_bp", "cur_bp", "drift_bp",
    )


_DRIFT_SQL = """
WITH prep AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents,
         CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS order_epoch_day,
         o_orderdate
  FROM orders
), r AS (
  SELECT * FROM prep WHERE o_orderdate < TIMESTAMP '1998-01-01'
), c AS (
  SELECT * FROM prep WHERE o_orderdate >= TIMESTAMP '1998-01-01'
), b AS (
  SELECT min(total_cents) AS mn1, max(total_cents) AS mx1,
         min(order_epoch_day) AS mn2, max(order_epoch_day) AS mx2
  FROM r
), long AS (
  SELECT 'total_cents' AS col, 'ref' AS side,
         CASE WHEN total_cents IS NULL THEN -2
              WHEN total_cents < b.mn1 THEN -1
              WHEN total_cents > b.mx1 THEN 10
              ELSE ((total_cents - b.mn1) * 10) // (b.mx1 - b.mn1 + 1)
         END AS bucket
  FROM r, b
  UNION ALL
  SELECT 'total_cents', 'cur',
         CASE WHEN total_cents IS NULL THEN -2
              WHEN total_cents < b.mn1 THEN -1
              WHEN total_cents > b.mx1 THEN 10
              ELSE ((total_cents - b.mn1) * 10) // (b.mx1 - b.mn1 + 1)
         END
  FROM c, b
  UNION ALL
  SELECT 'order_epoch_day', 'ref',
         CASE WHEN order_epoch_day IS NULL THEN -2
              WHEN order_epoch_day < b.mn2 THEN -1
              WHEN order_epoch_day > b.mx2 THEN 10
              ELSE ((order_epoch_day - b.mn2) * 10) // (b.mx2 - b.mn2 + 1)
         END
  FROM r, b
  UNION ALL
  SELECT 'order_epoch_day', 'cur',
         CASE WHEN order_epoch_day IS NULL THEN -2
              WHEN order_epoch_day < b.mn2 THEN -1
              WHEN order_epoch_day > b.mx2 THEN 10
              ELSE ((order_epoch_day - b.mn2) * 10) // (b.mx2 - b.mn2 + 1)
         END
  FROM c, b
), counts AS (
  SELECT col, CAST(bucket AS INT) AS bucket,
         count(*) FILTER (WHERE side = 'ref') AS n_ref,
         count(*) FILTER (WHERE side = 'cur') AS n_cur
  FROM long GROUP BY 1, 2
), shared AS (
  SELECT col, bucket, n_ref, n_cur,
         CAST(CASE WHEN sum(n_ref) OVER (PARTITION BY col) > 0
              THEN (n_ref * 10000) // sum(n_ref) OVER (PARTITION BY col)
              ELSE 0 END AS BIGINT) AS ref_bp,
         CAST(CASE WHEN sum(n_cur) OVER (PARTITION BY col) > 0
              THEN (n_cur * 10000) // sum(n_cur) OVER (PARTITION BY col)
              ELSE 0 END AS BIGINT) AS cur_bp
  FROM counts
)
SELECT col, bucket, n_ref, n_cur, ref_bp, cur_bp,
       abs(ref_bp - cur_bp) AS drift_bp
FROM shared
"""


def _parts_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join (operators/joins.py fuzzy_prefix_join):
    every part name with its 5th character deleted must find its
    original within edit distance 2 through the prefix-blocked
    candidate join — the dirty-dimension reconciliation pattern.
    The oracle replays the same blocking (prefix + length bound +
    levenshtein), so candidate generation AND verification are both
    hash-checked; near-misses between distinct real part names ride
    along as extra matches.

    Deliberately a DISTINCT-values match: fuzzy reconciliation runs
    on the distinct dirty values (64 distinct p_names here, each
    duplicated ~300×), and the resulting mapping broadcasts back to
    rows — matching at row grain would square the duplication (a 6M-
    pair result on this fixture) for zero extra information."""
    from datawarehouse_code_spark.operators.joins import fuzzy_prefix_join

    names = (
        read_table(spark, "part", sf_dir).select("p_name").distinct()
    )
    mutated = names.select(
        F.concat(
            F.substring("p_name", 1, 4), F.expr("substring(p_name, 6)")
        ).alias("m_name"),
    ).distinct()
    return fuzzy_prefix_join(
        mutated, names, "m_name", "p_name", max_distance=2
    ).select("m_name", "p_name", "edit_distance")


_FUZZY_MATCH_SQL = """
WITH names AS (
  SELECT DISTINCT p_name FROM part
), m AS (
  SELECT DISTINCT concat(substr(p_name, 1, 4), substr(p_name, 6)) AS m_name
  FROM names
)
SELECT m_name, p_name,
       levenshtein(lower(m_name), lower(p_name)) AS edit_distance
FROM m JOIN names
  ON substr(lower(m_name), 1, 2) = substr(lower(p_name), 1, 2)
 AND abs(length(m_name) - length(p_name)) <= 2
WHERE levenshtein(lower(m_name), lower(p_name)) <= 2
"""


def _orders_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order series per priority, REGULARIZED
    (operators/timeseries.py resample): every calendar day between a
    priority's first and last order appears — zero-days filled with
    n_orders=0 / revenue=0.0, plus last_rev carrying the most recent
    non-gap day's revenue forward (the two fill modes side by side).
    The oracle rebuilds the spine with generate_series and replays
    both fills; a missing gap day, a mis-filled constant, or a
    forward-fill that skips/overshoots all hash-fail."""
    from datawarehouse_code_spark.operators.timeseries import resample

    orders = read_table(spark, "orders", sf_dir)
    return resample(
        orders,
        ["o_orderpriority"],
        "o_orderdate",
        "1 day",
        aggs={
            "n_orders": F.count(F.lit(1)),
            "revenue": F.round(F.sum("o_totalprice"), 2),
            "last_rev": F.round(F.sum("o_totalprice"), 2),
        },
        fill={"n_orders": 0, "revenue": 0.0, "last_rev": "ffill"},
    )


_GAPFILL_SQL = """
WITH daily AS (
  SELECT o_orderpriority,
         time_bucket(INTERVAL '1 day', o_orderdate) AS bucket,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue,
         round(sum(o_totalprice), 2) AS last_rev
  FROM orders GROUP BY 1, 2
), bounds AS (
  SELECT o_orderpriority, min(bucket) AS mn, max(bucket) AS mx
  FROM daily GROUP BY 1
), spine AS (
  SELECT o_orderpriority,
         unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket
  FROM bounds
)
SELECT s.o_orderpriority, s.bucket,
       COALESCE(d.n_orders, 0) AS n_orders,
       COALESCE(d.revenue, 0.0) AS revenue,
       last_value(d.last_rev IGNORE NULLS) OVER (
         PARTITION BY s.o_orderpriority ORDER BY s.bucket
         ROWS UNBOUNDED PRECEDING) AS last_rev
FROM spine s LEFT JOIN daily d USING (o_orderpriority, bucket)
"""


WAREHOUSE_SUPPLEMENTARY: list[Query] = [
    Query("sql_recursive_reachability", _sql_recursive_reachability,
          _RECURSIVE_SQL,
          "§2.2 SQL surface: WITH RECURSIVE hop-bounded reachability "
          "(Spark 4 recursive CTE; identical text on DuckDB; "
          "supplementary, differential-tested)"),
    Query("sql_lateral_topk", _sql_lateral_topk, _LATERAL_SQL,
          "§2.2 SQL surface: LATERAL correlated LIMIT subquery — "
          "per-customer top-2 orders (identical text on DuckDB; "
          "supplementary, differential-tested)"),
    Query("rollup_merge", _rollup_merge, _ROLLUP_MERGE_SQL,
          "§2.2 aggregates: incremental partial-aggregate merge ≡ rebuild "
          "(operators/rollup.py)"),
    Query("skew_suppliers", _skew_suppliers, _SKEW_SQL,
          "scale diagnostics: top-N heavy-hitter keys with share "
          "(operators/quality.py skew_report)"),
    Query("join_left_outer", _join_left_outer, _JOIN_LEFT_SQL,
          "§2.2 outer join (in join_suite)"),
    Query("orders_table_diff", _orders_table_diff, _TABLE_DIFF_SQL,
          "snapshot diff: CDC feed generation I/U/D (supplementary, "
          "differential-tested; completeness pinned by pytest)"),
    Query("supplier_weighted_paths", _supplier_weighted_paths, _WSP_SQL,
          "graph: weighted shortest paths (Bellman-Ford, ≤4-edge "
          "contract) over the supplier co-occurrence graph "
          "(supplementary, differential-tested)"),
    Query("supplier_communities", _supplier_communities, _LPA_SQL,
          "graph: label-propagation communities over the supplier "
          "co-occurrence graph (supplementary, differential-tested)"),
    Query("supplier_bfs", _supplier_bfs, _BFS_SQL,
          "§2.2 graph: BFS hop distances from a seed set "
          "(supplementary, differential-tested)"),
    Query("supplier_triangles", _supplier_triangles, _TRIANGLES_SQL,
          "graph: degree-ordered triangle counting over the supplier "
          "co-occurrence graph (supplementary, differential-tested)"),
    Query("orders_daily_anomalies", _orders_daily_anomalies, _ANOMALY_SQL,
          "ops analytics: median/MAD robust outlier days per status "
          "(supplementary, differential-tested)"),
    Query("events_pit_dim", _events_pit_dim, _pit_sql(),
          "§2.2 SCD2 point-in-time lookup: facts joined to the dim "
          "version valid at event time (supplementary, "
          "differential-tested)"),
    Query("rollup_retract", _rollup_retract, _ROLLUP_RETRACT_SQL,
          "delete propagation: retraction merge ≡ rebuild over survivors "
          "(in maintenance_suite)"),
    Query("rollup_hist_percentiles", _rollup_hist_percentiles, _ROLLUP_HIST_SQL,
          "mergeable-percentile maintenance: merged histogram ≡ one-shot "
          "bin percentiles (in maintenance_suite)"),
    Query("set_ops_customers", _set_ops_customers, _SET_OPS_CUSTOMERS_SQL,
          "§2.2 INTERSECT + EXCEPT (in set_ops_suite)"),
    Query("set_ops_all_parts", _set_ops_all_parts, _SET_OPS_ALL_PARTS_SQL,
          "§2.2 EXCEPT ALL + INTERSECT ALL (in set_ops_suite)"),
    Query("agg_lineitem_stats", _agg_lineitem_stats, _AGG_LINEITEM_SQL,
          "§2.2 aggregates: TPC-H Q1 shape (in agg_stats_suite)"),
    Query("agg_count_distinct", _agg_count_distinct, _AGG_COUNTD_SQL,
          "§2.2 aggregates: countDistinct (in agg_stats_suite)"),
    Query("agg_rollup_year_type", _agg_rollup_year_type, _AGG_ROLLUP_SQL,
          "§2.2 rollup + grouping_id (in agg_grouping_suite)"),
    Query("agg_cube_type_category", _agg_cube_type_category, _AGG_CUBE_SQL,
          "§2.2 cube() (in agg_grouping_suite)"),
    Query("agg_grouping_sets", _agg_grouping_sets, _AGG_GSETS_SQL,
          "§2.2 GROUPING SETS (in agg_grouping_suite)"),
    Query("agg_quarter_revenue", _agg_quarter_revenue, _AGG_QUARTER_SQL,
          "§2.2 quarter derivation (in agg_quarter_pivot)"),
    Query("agg_pivot_company_type", _agg_pivot_company_type, _AGG_PIVOT_SQL,
          "§2.2 pivot (in agg_quarter_pivot)"),
    Query("window_monthly_growth", _window_monthly_growth, _WINDOW_GROWTH_SQL,
          "§2.2 window lag (in window_growth_mavg)"),
    Query("window_moving_avg", _window_moving_avg, _WINDOW_MAVG_SQL,
          "§2.2 window sliding frame (in window_growth_mavg)"),
    Query("filter_orders_predicates", _filter_orders_predicates, _FILTER_SQL,
          "§2.2 filters (in filter_topk_orders)"),
    Query("topk_orders_global", _topk_orders_global, _TOPK_SQL,
          "§2.2 global sort + limit (in filter_topk_orders)"),
    Query("set_intersect_customers", _set_intersect_customers, _SET_INTERSECT_SQL,
          "§2.2 INTERSECT (in set_ops_customers)"),
    Query("set_except_customers", _set_except_customers, _SET_EXCEPT_SQL,
          "§2.2 EXCEPT (in set_ops_customers)"),
    Query("set_except_all_parts", _set_except_all, _SET_EXCEPT_ALL_SQL,
          "§2.2 EXCEPT ALL (in set_ops_all_parts)"),
    Query("set_intersect_all_parts", _set_intersect_all, _SET_INTERSECT_ALL_SQL,
          "§2.2 INTERSECT ALL (in set_ops_all_parts)"),
    Query("json_extract_events", _json_extract_events, _JSON_SQL,
          "§2.2 JSON scalars (in scalar_suite)"),
    Query("string_scalars", _string_scalars, _STRING_SQL,
          "§2.2 string scalars (in scalar_suite)"),
    Query("join_full_outer", _join_full_outer, _JOIN_FULL_SQL,
          "§2.2 full outer join (in join_suite)"),
    Query("join_semi", _join_semi, _JOIN_SEMI_SQL,
          "§2.2 semi join (in join_suite)"),
    Query("theta_band_join", _theta_band_join, _THETA_SQL,
          "§2.2 theta/range join (in join_suite)"),
    Query("orders_daily_gapfill", _orders_daily_gapfill, _GAPFILL_SQL,
          "§2.2 time-series regularization: daily resample + gap fill "
          "(constant + forward-fill), spine from per-key bounds "
          "(supplementary, differential-tested)"),
    Query("orders_trailing_window", _orders_trailing_window,
          _TRAILING_WINDOW_SQL,
          "§2.2 time-RANGE window frame: trailing 30-day per-customer "
          "totals over irregular dates (supplementary, "
          "differential-tested)"),
    Query("parts_fuzzy_match", _parts_fuzzy_match, _FUZZY_MATCH_SQL,
          "§2.2 fuzzy string join: levenshtein-bounded, prefix-blocked "
          "(supplementary, differential-tested)"),
    Query("dim_client_scd3", _dim_client_scd3, _SCD3_SQL,
          "§2.2 SCD type-3 merge: prev_* columns + change date, no row "
          "fan-out (supplementary, differential-tested)"),
    Query("asof_forward_events", _asof_forward_events, _ASOF_FORWARD_SQL,
          "§2.2 as-of join (forward): next-action lookup, oracle via "
          "DuckDB native ASOF JOIN (supplementary, "
          "differential-tested)"),
    Query("orders_profile", _orders_profile, _PROFILE_SQL,
          "§2.2 data discovery: per-column-branch profile (rows, nulls, "
          "exact distincts, min/max) (supplementary, "
          "differential-tested)"),
    Query("orders_drift_report", _orders_drift_report, _DRIFT_SQL,
          "§2.2 ML data quality: distribution-drift report, integer "
          "buckets from the reference range (supplementary, "
          "differential-tested)"),
]
