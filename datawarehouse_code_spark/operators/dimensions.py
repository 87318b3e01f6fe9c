"""Dimension builders — the reference's snowflaked star schema, Spark-first.

Role mapping (FIXTURES.md §role-mapping): customer→dimclient,
part→dimproduct(+_subcategory), nation→dimcountry,
region→dimcountry_subregion, orders.o_orderdate→dimdate(+month,+year).

Where the reference loops per-row issuing point SELECT + INSERT
(warehouse.py:76-169 — the N+1 pattern, ≥2 round-trips/row), each
builder here is one declarative plan: distinct → derive → (optionally)
drop the keys the existing target already holds → append.  All
dimension tables are small relative to the fact, so when joined later
they broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from datawarehouse_code_spark.functions.scalars import date_key, quarter_start_month

# O7 (warehouse.py:83-92): company_name → company_type CASE mapping.
# The fixture stand-in maps c_mktsegment; unmatched values → NULL
# (the intended `otherwise` bucket the reference lacked — quirk B3).
SEGMENT_TO_COMPANY_TYPE = {
    "MACHINERY": "mechanic_company",
    "AUTOMOBILE": "electric_company",
    "BUILDING": "industry",
}
SEGMENT_TO_INDUSTRY_ID = {"MACHINERY": 1, "AUTOMOBILE": 2, "BUILDING": 3}


def _case_map(col: F.Column, mapping: dict, out_type: str) -> F.Column:
    expr = None
    for k, v in mapping.items():
        expr = F.when(col == k, F.lit(v)) if expr is None else expr.when(col == k, F.lit(v))
    return expr.otherwise(F.lit(None)).cast(out_type)


def build_dim_client(customer: DataFrame) -> DataFrame:
    """dimclient + its snowflake company_type (warehouse.py:76-94, O5/O7)."""
    return customer.select(
        F.col("c_custkey").alias("client_id"),
        F.col("c_name").alias("company_name"),
        _case_map(F.col("c_mktsegment"), SEGMENT_TO_COMPANY_TYPE, "string").alias("company_type"),
        _case_map(F.col("c_mktsegment"), SEGMENT_TO_INDUSTRY_ID, "int").alias("industry_id"),
        F.col("c_nationkey").alias("country_id"),
        F.col("c_acctbal").alias("acctbal"),
    )


def build_dim_product_subcategory(part: DataFrame) -> DataFrame:
    """Lookup-or-create surrogate keys for product subcategories
    (warehouse.py:104-112, O8).

    The reference does a per-row SELECT → INSERT → LAST_INSERT_ID().
    Spark-first: distinct natural keys + dense `row_number` over an
    ordered window.  The distinct set is tiny (p_type cardinality),
    so the single-partition window is not a scale hazard; for large
    natural-key domains use `surrogate_hash_key` instead (SURVEY.md §7.1).
    """
    w = Window.orderBy("subcategory")
    return (
        part.select(F.col("p_type").alias("subcategory"))
        .distinct()
        .withColumn("subcategory_id", F.row_number().over(w).cast("int"))
        .select("subcategory_id", "subcategory")
    )


def build_dim_product(part: DataFrame, subcategory: DataFrame) -> DataFrame:
    """dimproduct with FK to its snowflake (warehouse.py:96-116, O8)."""
    return (
        part.join(
            F.broadcast(subcategory), part["p_type"] == subcategory["subcategory"], "inner"
        ).select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_brand").alias("code"),
            F.col("p_name").alias("product_name"),
            F.col("p_type").alias("family"),
            F.col("subcategory_id").alias("category_id"),
            F.col("p_retailprice").alias("retail_price"),
        )
    )


def build_dim_country(nation: DataFrame) -> DataFrame:
    """dimcountry (warehouse.py:118-126)."""
    return nation.select(
        F.col("n_nationkey").alias("country_id"),
        F.col("n_name").alias("country_name"),
        F.col("n_regionkey").alias("region_id"),
    )


def build_dim_country_subregion(region: DataFrame, nation: DataFrame) -> DataFrame:
    """dimcountry_subregion: region bridged to countries
    (warehouse.py:128-136; bridge = nation.n_regionkey, FIXTURES.md)."""
    return (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "inner")
        .select(
            F.col("r_regionkey").alias("subregion_id"),
            F.col("r_name").alias("subregion"),
            F.col("n_nationkey").alias("country_id"),
        )
    )


def build_dim_date_year(orders: DataFrame) -> DataFrame:
    """dimdate_year lookup-or-create (warehouse.py:145-153, O9):
    distinct years with a dense surrogate (tiny domain → window is fine)."""
    w = Window.orderBy("year")
    return (
        orders.select(F.year("o_orderdate").cast("int").alias("year"))
        .distinct()
        .withColumn("year_id", F.row_number().over(w).cast("int"))
        .select("year_id", "year")
    )


def build_dim_date_month(spark) -> DataFrame:
    """Static months 1-12 (quirk B4: the reference assumes this
    pre-populated, warehouse.py:155-156; we generate it)."""
    return spark.range(1, 13).select(
        F.col("id").cast("int").alias("month_id"), F.col("id").cast("int").alias("month")
    )


def build_dim_date(orders: DataFrame, dim_year: DataFrame) -> DataFrame:
    """dimdate (warehouse.py:138-169, O10-O14).

    Composite-natural-key dedup on (day, month, year) becomes a
    `distinct` over the derived date; id is the deterministic
    yyyymmdd key (no AUTO_INCREMENT, no LAST_INSERT_ID round-trip —
    O13's post-insert UPDATE disappears because `three_months` is
    computed before the write).
    """
    dates = orders.select(F.to_date("o_orderdate").alias("date")).distinct()
    derived = dates.select(
        date_key(F.col("date")).alias("date_id"),
        F.dayofmonth("date").cast("int").alias("day"),
        F.month("date").cast("int").alias("month_id"),
        F.year("date").cast("int").alias("year"),
        F.col("date"),
        quarter_start_month(F.col("date")).alias("three_months"),
    )
    return derived.join(F.broadcast(dim_year), "year", "inner").select(
        "date_id", "day", "month_id", "year_id", "year", "date", "three_months"
    )


def insert_if_not_exists(incoming: DataFrame, existing: DataFrame, key: list[str]) -> DataFrame:
    """The reference's insert-if-not-exists load (O5, warehouse.py:78-94):
    per-row point SELECT + conditional INSERT → one left-anti join.

    Returns the rows of `incoming` whose `key` is absent from
    `existing` — the exact set the reference would have inserted.
    Re-running with the union of existing+result yields an empty
    delta, giving the idempotency guaranteed by O25's skip-logging.
    """
    return incoming.join(existing.select(*key).distinct(), key, "left_anti")


def insert_if_not_exists_report(
    incoming: DataFrame, existing: DataFrame, key: list[str]
) -> tuple[DataFrame, Observation]:
    """O25: the load delta plus an AGGREGATE skip report.

    The reference logs one warning per skipped row
    (warehouse.py:94,116,126,136,169,210) — per-row logging is a
    driver bottleneck at scale, so this reports totals instead.  One
    left join marks the incoming rows whose key already exists; an
    Observation on the marked frame counts
    {"incoming", "inserted", "skipped"} and the delta is the unmarked
    rows, in `incoming`'s column order.  Nothing runs here: the job
    that writes the delta also fills the report, so read
    ``observation.get`` only after that job (before it, ``get``
    blocks).  Spark 4.1 caveat: once a session has used an
    Observation it no longer serializes, so a task closure that
    captures the session (an MLlib model still holding its training
    summary) fails in it afterwards — see train_quality_classifier.
    """
    hit = F.col("_hit").isNotNull()
    report = Observation()
    marked = incoming.join(
        existing.select(*key).distinct().withColumn("_hit", F.lit(True)), key, "left"
    ).observe(
        report,
        F.count(F.lit(1)).alias("incoming"),
        F.count_if(~hit).alias("inserted"),
        F.count_if(hit).alias("skipped"),
    )
    return marked.filter(~hit).select(*incoming.columns), report
