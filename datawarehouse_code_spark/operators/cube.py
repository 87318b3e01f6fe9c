"""Cube build — the reference's star-join cube (O20-O22).

warehouse.py:256-284 rebuilds `cube_table` as TRUNCATE + one
INSERT…SELECT joining the fact to 7 dims.  Built from the same source
snapshot, five of those dims only repeat what the fact line already
determines: `category` (dim_product_subcategory) is `p_type`, as is
`family`; `date`/`day`/`month`/`year` (dim_date, dim_date_month,
dim_date_year) are functions of `o_orderdate`; `company_name` and
`company_type` (dim_client) come from the customer row the line joins
for `c_nationkey`.  So the cube is `fact_lines ⋈ part ⋈
broadcast(nation)`, the shape of its oracle, and explicit filters drop
the rows the five inner joins dropped (NULL order date, NULL p_type).
Each of those joins cost a distinct, a row_number window or a
broadcast: plan boundaries, which at the sizes benched here outweigh
the data.  `part` scales with the data, so only nation (domain-bounded)
carries a broadcast hint; AQE picks part's strategy.

The TRUNCATE+INSERT pair is replaced by acid's staged swap
(_staged_overwrite, O24): the new cube builds beside the live one
and swaps in via the old-aside → staged-in → aside-dropped rename
ordering, so readers never see the cube absent mid-rebuild and a
crash is repaired by recover_interrupted_swap on the next probe
(write_cube says why a bare overwrite is not enough).

Quirk resolutions baked in (SURVEY.md §2.3): the year is the order
date's own year (B5: the buggy ddy.id = ddm.id of warehouse.py:282
has no counterpart); the projection emits the *declared* column order
(B7); measures are real (B6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_cube(lines: DataFrame, part: DataFrame, nation: DataFrame) -> DataFrame:
    """16-column denormalized cube (warehouse.py:256-274 select list)
    from `operators/fact.fact_lines` rows.

    Preconditions, which the source tables meet and the reference's
    keys assume: o_orderkey, c_custkey, p_partkey and n_nationkey are
    unique.  A duplicated key multiplies the cube rows (the
    reference's plan, joining customer twice, squared them).
    """
    return (
        lines.filter(F.col("date").isNotNull())
        .join(part.filter(F.col("p_type").isNotNull()), F.col("product_id") == F.col("p_partkey"))
        .join(F.broadcast(nation), F.col("country_id") == F.col("n_nationkey"))
        .select(
            F.col("id").alias("fact_id"),
            "product_id",
            F.col("p_type").alias("category"),
            F.col("p_name").alias("product_name"),
            F.col("p_type").alias("family"),
            F.col("p_brand").alias("code"),
            "client_id",
            "company_name",
            "company_type",
            F.col("n_name").alias("country_name"),
            "date",
            F.dayofmonth("date").cast("int").alias("day"),
            F.month("date").cast("int").alias("month"),
            F.year("date").cast("int").alias("year"),
            "quantity",
            "price",
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
    existing_cube: DataFrame, lines: DataFrame, part: DataFrame, nation: DataFrame
) -> DataFrame:
    """Incremental cube maintenance — the 100 TB evolution of the
    reference's TRUNCATE + rebuild (warehouse.py:254-284).  Returns
    only the cube rows to APPEND: the `fact_lines` rows whose
    deterministic id is absent from the existing cube's fact_id, built
    into cube rows by `build_cube`.  Because the cube is a join (not
    an aggregate), increment = append, and the 128-bit fact id makes a
    re-delivered delta come back empty.
    """
    # the delta is found on the narrow lines, before part and nation
    # widen them, and anti-joined first so the dedup shuffles only new
    # lines; the dedup WITHIN the delta keeps a batch holding the same
    # fact row twice (double-ingested file) from appending it twice
    new_lines = lines.join(
        existing_cube.select(F.col("fact_id").alias("id")), "id", "left_anti"
    ).dropDuplicates(["id"])
    return build_cube(new_lines, part, nation)


def register_cube_view(cube: DataFrame, name: str = "cube_view") -> None:
    """The reference's commented-out VIEW design (O23, warehouse.py:213-246)."""
    cube.createOrReplaceTempView(name)
