"""Cube build — the reference's 7-table star join (O20-O22).

warehouse.py:256-284 rebuilds `cube_table` as TRUNCATE + one
INSERT…SELECT with 7 inner joins, planned by MySQL.  Spark-first:
chained DataFrame joins.  Broadcast hints are applied ONLY to dims
whose cardinality is bounded by the domain, not by data size
(subcategory ≈ |p_type| ~150, date ≈ calendar days, month = 12,
year ≈ |years|, country ≈ |nations|): hints override AQE's size
check, so putting one on a table that scales with sf (dim_product,
dim_client) would OOM at 100 TB.  Those two joins are left to AQE,
which still picks BroadcastHashJoin at small sf and degrades to
shuffle join when the side outgrows the threshold.
The TRUNCATE+INSERT pair is replaced by acid's staged swap
(_staged_overwrite, O24): the new cube builds beside the live one
and swaps in via the old-aside → staged-in → aside-dropped rename
ordering, so readers never see the cube absent mid-rebuild and a
crash is repaired by recover_interrupted_swap on the next probe
(a bare `write.mode("overwrite")` would DELETE the live cube before
writing — every rebuild would open a no-cube window, and a crash
would hold it open until the next successful rebuild).

Quirk resolutions baked in (SURVEY.md §2.3): the year join goes
through dimdate.year_id (B5, not the buggy ddy.id = ddm.id of
warehouse.py:282); the projection emits the *declared* column order
(B7); measures are real (B6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_cube(
    fact: DataFrame,
    dim_product: DataFrame,
    dim_subcategory: DataFrame,
    dim_client: DataFrame,
    dim_date: DataFrame,
    dim_month: DataFrame,
    dim_year: DataFrame,
    dim_country: DataFrame,
) -> DataFrame:
    """16-column denormalized cube (warehouse.py:256-274 select list)."""
    dp = dim_product.alias("dp")
    dps = dim_subcategory.alias("dps")
    dc = dim_client.alias("dc")
    dd = dim_date.alias("dd")
    ddm = dim_month.alias("ddm")
    ddy = dim_year.alias("ddy")
    dco = dim_country.alias("dco")
    f = fact.alias("f")
    return (
        # dp/dc scale with data size → no hint; AQE chooses the strategy
        f.join(dp, F.col("f.product_id") == F.col("dp.product_id"), "inner")
        .join(F.broadcast(dps), F.col("dp.category_id") == F.col("dps.subcategory_id"), "inner")
        .join(dc, F.col("f.client_id") == F.col("dc.client_id"), "inner")
        .join(F.broadcast(dd), F.col("f.date_id") == F.col("dd.date_id"), "inner")
        .join(F.broadcast(ddm), F.col("dd.month_id") == F.col("ddm.month_id"), "inner")
        # B5 fix: year joined through dimdate.year_id, not month.id
        .join(F.broadcast(ddy), F.col("dd.year_id") == F.col("ddy.year_id"), "inner")
        .join(F.broadcast(dco), F.col("f.country_id") == F.col("dco.country_id"), "inner")
        .select(
            F.col("f.id").alias("fact_id"),
            F.col("f.product_id").alias("product_id"),
            F.col("dps.subcategory").alias("category"),
            F.col("dp.product_name").alias("product_name"),
            F.col("dp.family").alias("family"),
            F.col("dp.code").alias("code"),
            F.col("f.client_id").alias("client_id"),
            F.col("dc.company_name").alias("company_name"),
            F.col("dc.company_type").alias("company_type"),
            F.col("dco.country_name").alias("country_name"),
            F.col("dd.date").alias("date"),
            F.col("dd.day").alias("day"),
            F.col("ddm.month").alias("month"),
            F.col("ddy.year").alias("year"),
            F.col("f.quantity").alias("quantity"),
            F.col("f.price").alias("price"),
        )
    )


def write_cube(cube: DataFrame, path: str) -> None:
    """Truncate-and-rebuild sink (O22) via the staged swap: the
    rebuild never deletes the live cube before its replacement is in
    place (module docstring; r16 self-review — the previous bare
    overwrite opened a no-cube window on every rebuild and a crash
    held it open until the next successful one)."""
    from datawarehouse_code_spark.sources.acid import _staged_overwrite

    _staged_overwrite(cube.sparkSession, cube, path)


def incremental_cube(
    existing_cube: DataFrame,
    fact_delta: DataFrame,
    dim_product: DataFrame,
    dim_subcategory: DataFrame,
    dim_client: DataFrame,
    dim_date: DataFrame,
    dim_month: DataFrame,
    dim_year: DataFrame,
    dim_country: DataFrame,
) -> DataFrame:
    """Incremental cube maintenance — the 100 TB evolution of the
    reference's TRUNCATE + rebuild (warehouse.py:254-284).  Returns
    only the cube rows to APPEND: the fact rows whose deterministic
    id is absent from the existing cube's fact_id, joined with the
    dims.  Because the cube is a join (not an aggregate), increment =
    append, and the 128-bit fact id makes a re-delivered delta come
    back empty.
    """
    # dedup WITHIN the delta too: a batch containing the same fact row
    # twice (double-ingested file) must not append it twice
    new_rows = fact_delta.dropDuplicates(["id"]).join(
        existing_cube.select(F.col("fact_id").alias("id")), "id", "left_anti"
    )
    return build_cube(
        new_rows, dim_product, dim_subcategory, dim_client,
        dim_date, dim_month, dim_year, dim_country,
    )


def register_cube_view(cube: DataFrame, name: str = "cube_view") -> None:
    """The reference's commented-out VIEW design (O23, warehouse.py:213-246)."""
    cube.createOrReplaceTempView(name)
