"""Salted two-phase aggregation (functions/skew.py) — must be
result-identical to the direct aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.functions.skew import salted_count


def test_salted_count_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", i) for i in range(5000)] + [("cold", i) for i in range(7)],
        "k string, v long",
    )
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r["k"]: r["count"] for r in salted_count(df, ["k"]).collect()}
    assert salted == plain == {"hot": 5000, "cold": 7}
