"""Engine operators running on the reference's NATIVE
user_visit_action schema (via the seeded mock generator) — the
schema-level migration proof: pre-assigned session ids, string
action_time, CSV id lists, column-exclusive action types."""

from __future__ import annotations

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.operators import session_analysis as sa
from analysisofuserbehavior_spark.operators.reference_schema import (
    actions_from_user_visit_action,
)
from analysisofuserbehavior_spark.sources.mockdata import mock_user_visit_action


def test_session_pipeline_on_reference_schema(spark):
    uva = mock_user_visit_action(spark, users=40, sessions_per_user=5)
    actions = actions_from_user_visit_action(uva)

    stats = sa.session_stats(actions)
    n_sessions = uva.select("session_id").distinct().count()
    # sessions with ≥1 action (n_actions can draw 0)
    assert stats.count() == n_sessions
    # step_length sums back to the action count
    total = stats.agg(F.sum("step_length")).collect()[0][0]
    assert total == uva.count()

    row = sa.session_aggr_stat(stats).collect()[0]
    assert row["session_count"] == n_sessions


def test_order_pay_counts_via_csv_explode(spark):
    """The reference's top10-category click/order/pay counting over
    its CSV columns: explode order/pay ids, count per category."""
    uva = mock_user_visit_action(spark, users=40, sessions_per_user=5)
    actions = actions_from_user_visit_action(uva)
    order_counts = (
        actions.where(F.col("event_type") == "order")
        .select(F.explode(F.split("order_category_ids", ",")).alias("category_id"))
        .groupBy("category_id")
        .count()
    )
    # 2 CSV ids per order row → total exploded rows = 2 × order rows
    n_orders = actions.where(F.col("event_type") == "order").count()
    assert order_counts.agg(F.sum("count")).collect()[0][0] == 2 * n_orders
