"""Maps the driver's star schema onto the reference's data model.

The reference computes over five inputs (SURVEY.md §1.1):
`user_visit_action` (clickstream), `user_info`, `product_info`,
`city_info`, and an ad-click log.  The driver testdata is a TPC-H-ish
star schema + `events`; FIXTURES.md prescribes the mapping, kept
here in ONE place so the Spark plans and the DuckDB oracle SQL
(oracle.py mirrors these expressions verbatim) consume identical
derived inputs:

* `events`   → `user_visit_action` / ad log.  Derived columns:
  `day` (yyyy-MM-dd), `hour`, `category_id` = json `$.k` of `props`
  (exercising get_json_object, GetJsonObjectUDF.java:12-27),
  `product_id` = `category_id`, `page_id` = `category_id % 20`,
  `ad_id` = `category_id % 10`; `session_id` via gap sessionization
  (operators/sessionize.py).  Action types: view / click / purchase /
  signup / error stand in for search / click / order / pay.
* `customer` (+ nation + region) → `user_info`: `age` =
  `c_custkey % 60` (mock ages are 0-59, MockData.java:125),
  `professional` = `c_mktsegment`, `city` = nation name, `sex` =
  even/odd custkey.
* `nation` + `region` → `city_info` (`city_id`/`city_name`/`area`,
  AreaTop3ProductSpark.java:176-218): city = nation, area = region
  name.
* `part` → `product_info` with `extend_info` JSON-in-a-string
  rebuilt as `{"product_status": p_size % 2}` (MockData.java:156).

Dimension tables are tiny (≤ thousands of rows at any SF) — every
join against them is explicitly `broadcast()` so the 100 TB fact
side never shuffles for enrichment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import day_col, hour_col, json_long
from .sessionize import sessionize


def actions(events: DataFrame) -> DataFrame:
    """Sessionized clickstream with the reference's derived columns."""
    return (
        sessionize(events)
        .withColumn("day", day_col("ts"))
        .withColumn("hour", hour_col("ts"))
        .withColumn("category_id", json_long("props", "$.k"))
        .withColumn("product_id", json_long("props", "$.k"))
        .withColumn("page_id", json_long("props", "$.k") % 20)
        .withColumn("ad_id", json_long("props", "$.k") % 10)
    )


def user_dim(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """user_id, professional, city_id, city, area: the join half of
    `user_info` (customer ⋈ city_info).  `modules.load_users` memoizes
    this frame; only joined columns belong here (see `user_attrs`)."""
    nat = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_nationkey").alias("city_id"),
            F.col("n_name").alias("city"),
            F.col("r_name").alias("area"),
        )
    )
    return (
        customer.join(F.broadcast(nat), customer.c_nationkey == nat.nationkey)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("professional"),
            F.col("city_id"),
            F.col("city"),
            F.col("area"),
        )
    )


def user_attrs(dim: DataFrame) -> DataFrame:
    """The row-local half of `user_info`: `age` and `sex` as
    expressions over `user_id`, on top of a `user_dim` frame.  Kept
    as expressions, not stored columns, so a task's age/sex predicate
    stays a predicate on `user_id` that Catalyst can infer across the
    user join onto the events side."""
    uid = F.col("user_id")
    return dim.select(
        uid,
        (uid % 60).alias("age"),
        "professional",
        "city_id",
        "city",
        "area",
        F.when(uid % 2 == 0, "male").otherwise("female").alias("sex"),
    )


def user_info(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """user_id, age, professional, city_id, city, area, sex
    (user_info ⋈ city_info)."""
    return user_attrs(user_dim(customer, nation, region))


def product_info(part: DataFrame) -> DataFrame:
    """product_id, product_name, extend_info (JSON-in-a-string)."""
    return part.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_name").alias("product_name"),
        F.concat(
            F.lit('{"product_status": '), (F.col("p_size") % 2).cast("string"), F.lit("}")
        ).alias("extend_info"),
    )
