"""Module 2 rebuild: page single-hop conversion rate (funnel).

Reference: spark/page/PageOneStepConvertRateSpark.java:47-311.  The
reference groups actions by session, sorts each group's rows in
driver-style Java code (:170-184), walks adjacent pairs into
"split" strings `lastPage_currentPage` (:187-214), keeps pairs in the
task's `targetPageFlow`, countByKey's them (:105), and chains
conversion rates `pv(split_i) / pv(split_{i-1})` with the first split
over the start-page PV (:264-286), rounded 2dp.

Rebuild: the adjacent-pair walk IS `lag()` over a session window —
one shuffle on session, no groupByKey materialization.  The rate
chain is itself expressed with a second (tiny) `lag()` over the
ordered split list, so the whole funnel is one declarative plan: no
driver-side loop, no collect (the ref collects counts to the driver,
:264).  Output is relational (step, split, rate) rather than the
ref's `3_5=0.9|5_2=...` concat string (domain/PageSplitConvertRate.java:5-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import qround
from ..sources import local_frame


def page_splits(
    actions: DataFrame, flow_col: str = "event_type", gap_seconds: int = 1800
) -> DataFrame:
    """Adjacent-pair "split" per session: prev_page + '_' + page.

    Computed over the USER window with a gap guard rather than the
    session window: sessions are contiguous slices of a user's
    timeline, so "adjacent within session" ≡ "adjacent within user
    AND gap ≤ threshold".  Same result, but the plan needs ONE
    shuffle+sort (user) instead of two (user for sessionize, then
    session for the lag) — and Catalyst prunes the unused
    sessionization windows entirely."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(flow_col).over(w)
    gap = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.lag("ts").over(w))
    return actions.withColumn(
        "split",
        F.when(
            prev.isNotNull() & (gap <= gap_seconds),
            F.concat_ws("_", prev, F.col(flow_col)),
        ),
    )


def page_convert_rate(
    spark: SparkSession,
    actions: DataFrame,
    target_flow: tuple[str, ...],
    flow_col: str = "event_type",
) -> DataFrame:
    """Chained conversion rate along `target_flow`.

    rate(step i) = pv(split_i) / pv(split_{i-1}); the first split's
    denominator is the start-page PV (count of rows whose page equals
    flow[0], ref :226-256).  Denominator 0 → NULL (the ref would
    divide by zero; ANSI mode makes the guard explicit).
    """
    splits = [f"{a}_{b}" for a, b in zip(target_flow, target_flow[1:])]
    target_df = local_frame(
        spark, [(i + 1, s) for i, s in enumerate(splits)], "step int, split string"
    )
    pair_counts = (
        page_splits(actions, flow_col)
        .where(F.col("split").isin(splits))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("pv"))
    )
    start_pv = actions.where(F.col(flow_col) == target_flow[0]).agg(
        F.count(F.lit(1)).alias("start_pv")
    )
    w = Window.orderBy("step")  # ≤ len(flow) rows — single-partition window is fine
    return (
        target_df.join(pair_counts, "split", "left")
        .na.fill({"pv": 0})
        .crossJoin(F.broadcast(start_pv))
        .withColumn("prev_pv", F.coalesce(F.lag("pv").over(w), F.col("start_pv")))
        .select(
            "step",
            "split",
            F.col("pv").cast("bigint").alias("pv"),
            qround(
                F.col("pv").cast("double") / F.nullif(F.col("prev_pv"), F.lit(0)).cast("double"),
                2,
            ).alias("convert_rate"),
        )
    )
