from __future__ import annotations

from datetime import datetime

from analysisofuserbehavior_spark.operators import ad_stats, behavior_model as bm

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

USERS_SCHEMA = (
    "user_id long, age long, professional string, city_id long, city string, "
    "area string, sex string"
)


def _per_user(spark, rows):
    actions = bm.actions(spark.createDataFrame(rows, SCHEMA))
    return ad_stats.ad_user_click_count(ad_stats.clicks(actions))


def _daily_city(spark, rows, users):
    return ad_stats.daily_city_clicks(_per_user(spark, rows), users)


def _mk(eid, day, user, typ, k=7):
    return (eid, datetime(2024, 1, day, 10, 0, eid % 60), user, typ, 0.0, '{"k": %d}' % k)


def test_blacklist_threshold(spark):
    rows = [_mk(i, 1, 1, "click") for i in range(1, 4)] + [_mk(9, 1, 2, "click")]
    out = ad_stats.ad_blacklist(_per_user(spark, rows), threshold=3).collect()
    assert [r["user_id"] for r in out] == [1]


def test_ad_stat_is_cumulative_over_days(spark):
    rows = [_mk(1, 1, 1, "click"), _mk(2, 1, 1, "click"), _mk(3, 2, 1, "click")]
    users = spark.createDataFrame([(1, 10, "X", 5, "KENYA", "AFRICA", "male")], USERS_SCHEMA)
    out = sorted(
        ad_stats.ad_stat(_daily_city(spark, rows, users)).collect(), key=lambda r: r["day"]
    )
    assert [r["click_count"] for r in out] == [2, 3]  # running total, not daily
    assert out[0]["province"] == "AFRICA"


def test_province_top3_keeps_top_not_tail(spark):
    """The reference's WHERE rank >= 3 bug
    (AdClickRealTimeStatSpark.java:840) would KEEP the tail; we keep
    the top 3 per (day, province) as intended."""
    rows = []
    eid = 0
    for ad_k, n in [(1, 5), (2, 4), (3, 3), (4, 2), (5, 1)]:
        for _ in range(n):
            eid += 1
            rows.append(_mk(eid, 1, 1, "click", k=ad_k))
    users = spark.createDataFrame([(1, 10, "X", 5, "KENYA", "AFRICA", "male")], USERS_SCHEMA)
    out = ad_stats.ad_province_top3(_daily_city(spark, rows, users)).collect()
    assert sorted(r["ad_id"] for r in out) == [1, 2, 3]
    assert all(r["click_count"] >= 3 for r in out)
