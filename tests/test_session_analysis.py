from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.operators import behavior_model as bm
from analysisofuserbehavior_spark.operators import session_analysis as sa
from analysisofuserbehavior_spark.params import TaskParams

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _actions(spark, rows):
    return bm.actions(spark.createDataFrame(rows, SCHEMA))


def test_session_stats_rollup(spark):
    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 7, "view", 1.0, '{"k": 3}'),
        (2, datetime(2024, 1, 1, 10, 0, 5), 7, "click", 2.0, '{"k": 5}'),
        (3, datetime(2024, 1, 1, 10, 0, 9), 7, "click", 3.5, '{"k": 3}'),
    ]
    out = sa.session_stats(_actions(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["visit_length"] == 9
    assert r["step_length"] == 3
    assert r["start_time"] == "2024-01-01 10:00:00"
    assert r["event_types"] == "click,view"
    assert r["click_category_ids"] == "3,5"
    assert r["total_value"] == 6.5
    assert r["user_id"] == 7


def test_empty_click_categories_is_empty_string(spark):
    rows = [(1, datetime(2024, 1, 1, 10, 0, 0), 7, "view", 1.0, '{"k": 3}')]
    r = sa.session_stats(_actions(spark, rows)).collect()[0]
    assert r["click_category_ids"] == ""
    assert r["visit_length"] == 0  # single action → 0-length session


def test_aggr_stat_buckets_and_ratios(spark):
    # three sessions: visit 0s (no bucket), 5s (4s_6s), 40s (30s_60s)
    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 1, "view", 0.0, '{"k": 1}'),
        (2, datetime(2024, 1, 1, 10, 0, 0), 2, "view", 0.0, '{"k": 1}'),
        (3, datetime(2024, 1, 1, 10, 0, 5), 2, "view", 0.0, '{"k": 1}'),
        (4, datetime(2024, 1, 1, 10, 0, 0), 3, "view", 0.0, '{"k": 1}'),
        (5, datetime(2024, 1, 1, 10, 0, 40), 3, "view", 0.0, '{"k": 1}'),
    ]
    r = sa.session_aggr_stat(sa.session_stats(_actions(spark, rows))).collect()[0]
    assert r["session_count"] == 3
    assert r["visit_4s_6s_ratio"] == 0.33
    assert r["visit_30s_60s_ratio"] == 0.33
    assert r["visit_1s_3s_ratio"] == 0.0
    assert r["step_1_3_ratio"] == 1.0


def test_filter_sessions_all_params(spark):
    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 2, "click", 0.0, '{"k": 1}'),
        (2, datetime(2024, 1, 1, 10, 0, 0), 3, "view", 0.0, '{"k": 1}'),
    ]
    sessions = sa.session_stats(_actions(spark, rows))
    users = spark.createDataFrame(
        [(2, 25, "ENG", "KENYA", "AFRICA", "male"), (3, 70, "DOC", "PERU", "AMERICA", "female")],
        "user_id long, age long, professional string, city string, area string, sex string",
    )
    params = TaskParams(
        start_age=20, end_age=30, professionals=("ENG",), sex="male",
        keywords=("click",), category_ids=(1,),
    )
    out = sa.filter_sessions(sessions, users, params).collect()
    assert [r["user_id"] for r in out] == [2]
    # no params → everything passes
    assert sa.filter_sessions(sessions, users, TaskParams()).count() == 2


def test_task_param_json_roundtrip():
    raw = (
        '{"startDate": ["2026-08-01"], "endDate": ["2026-08-10"],'
        ' "startAge": ["20"], "endAge": ["50"],'
        ' "professionals": ["a,b"], "sex": ["male"],'
        ' "keywords": ["click,view"], "categoryIds": ["1,2,3"],'
        ' "targetPageFlow": ["1,2,3"]}'
    )
    p = TaskParams.from_task_json(raw)
    assert p.start_age == 20 and p.end_age == 50
    assert p.professionals == ("a", "b")
    assert p.category_ids == (1, 2, 3)
    assert p.target_page_flow == ("1", "2", "3")
    assert p.cities == ()


def test_top10_composite_ordering(spark):
    rows = []
    eid = 0

    def add(n, user, typ, k):
        nonlocal eid
        for _ in range(n):
            eid += 1
            rows.append((eid, datetime(2024, 1, 1, 10, 0, eid % 60), user, typ, 0.0, '{"k": %d}' % k))

    add(3, 1, "click", 5)      # cat 5: 3 clicks
    add(3, 2, "click", 9)      # cat 9: 3 clicks
    add(2, 2, "purchase", 9)   # cat 9 wins tie on order_count
    add(1, 3, "click", 2)
    out = sa.top10_categories(_actions(spark, rows)).collect()
    assert [r["category_id"] for r in out] == [9, 5, 2]


def test_top10_category_sessions_window(spark):
    rows = []
    eid = 0
    for sess_user, n in [(1, 3), (2, 5), (3, 1)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, datetime(2024, 1, 1, 10, 0, eid % 60), sess_user, "click", 0.0, '{"k": 7}'))
    actions = _actions(spark, rows)
    top = sa.top10_categories(actions)
    out = sa.top10_category_sessions(actions, top, n=2).collect()
    assert len(out) == 2
    assert [r["click_count"] for r in out] == [5, 3]
