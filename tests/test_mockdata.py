"""Seeded mock generator (sources/mockdata.py) — MockData.java parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.sources.mockdata import (
    mock_product_info,
    mock_user_info,
    mock_user_visit_action,
    register_mock_tables,
)


def test_action_type_column_exclusivity(spark):
    """Exactly one action column group non-null per row (MockData.java:58-72)."""
    df = mock_user_visit_action(spark, users=20, sessions_per_user=3)
    groups = [
        F.col("search_keyword").isNotNull(),
        F.col("click_category_id").isNotNull(),
        F.col("order_category_ids").isNotNull(),
        F.col("pay_category_ids").isNotNull(),
    ]
    n_set = sum(g.cast("int") for g in groups)
    assert df.where(n_set != 1).count() == 0


def test_session_constant_date(spark):
    df = mock_user_visit_action(spark, users=20, sessions_per_user=3)
    bad = (
        df.groupBy("session_id")
        .agg(F.countDistinct("date").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert bad == 0


def test_deterministic_across_runs(spark):
    a = mock_user_visit_action(spark, users=10, sessions_per_user=2).collect()
    b = mock_user_visit_action(spark, users=10, sessions_per_user=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_dimension_shapes(spark):
    users = mock_user_info(spark, 50)
    assert users.count() == 50
    ages = [r["age"] for r in users.select("age").collect()]
    assert all(0 <= a < 60 for a in ages)
    prods = mock_product_info(spark, 30)
    statuses = {
        r[0]
        for r in prods.select(
            F.get_json_object("extend_info", "$.product_status")
        ).collect()
    }
    assert statuses == {"0", "1"}


def test_register_views(spark):
    register_mock_tables(spark)
    n = spark.sql("SELECT count(*) FROM user_visit_action").collect()[0][0]
    assert n > 0
