from __future__ import annotations

from datetime import datetime

from analysisofuserbehavior_spark.operators import behavior_model as bm
from analysisofuserbehavior_spark.operators.page_flow import page_convert_rate, page_splits
from analysisofuserbehavior_spark.sources import local_frame

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _actions(spark, rows):
    return bm.actions(local_frame(spark, rows, SCHEMA))


def _mk(eid, sec, user, typ):
    return (eid, datetime(2024, 1, 1, 10, 0, sec), user, typ, 0.0, '{"k": 1}')


def test_splits_are_per_session_adjacent_pairs(spark):
    rows = [
        _mk(1, 0, 7, "view"),
        _mk(2, 5, 7, "click"),
        _mk(3, 9, 7, "purchase"),
        _mk(4, 0, 9, "view"),  # other session: no pair with user 7
    ]
    out = {r["event_id"]: r["split"] for r in page_splits(_actions(spark, rows)).collect()}
    assert out[1] is None
    assert out[2] == "view_click"
    assert out[3] == "click_purchase"
    assert out[4] is None


def test_convert_rate_chain(spark):
    # 4 views; 2 view→click; 1 click→purchase; 0 purchase→signup
    rows = [
        _mk(1, 0, 1, "view"), _mk(2, 5, 1, "click"), _mk(3, 9, 1, "purchase"),
        _mk(4, 0, 2, "view"), _mk(5, 5, 2, "click"),
        _mk(6, 0, 3, "view"),
        _mk(7, 0, 4, "view"),
    ]
    rate = page_convert_rate(
        spark, _actions(spark, rows), ("view", "click", "purchase", "signup")
    )
    out = {r["split"]: r for r in rate.collect()}
    # the target-flow frame is a local Arrow table, not a Python RDD
    assert "ExistingRDD" not in rate._jdf.queryExecution().executedPlan().toString()
    assert out["view_click"]["pv"] == 2
    assert out["view_click"]["convert_rate"] == 0.5       # 2/4 views
    assert out["click_purchase"]["convert_rate"] == 0.5   # 1/2
    assert out["purchase_signup"]["pv"] == 0
    assert out["purchase_signup"]["convert_rate"] == 0.0  # 0/1


def test_zero_denominator_gives_null(spark):
    rows = [_mk(1, 0, 1, "click")]  # no views at all
    out = {r["split"]: r for r in page_convert_rate(
        spark, _actions(spark, rows), ("view", "click", "purchase", "signup")
    ).collect()}
    assert out["view_click"]["convert_rate"] is None
