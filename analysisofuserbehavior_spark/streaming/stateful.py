"""Module 4's stateful streaming operators: the funnel's per-user
state machine plus the JVM running totals.

The reference's `updateStateByKey` (AdClickRealTimeStatSpark.java:
620-676) keeps a never-expiring Long per (day, province, city, ad)
and re-emits the running total every 5 s batch.  The built-in
streaming `groupBy().count()` in update mode covers that exactly, so
`running_click_totals` is a JVM-only stateful aggregate: a partial
count before the exchange, state in the executor-side StateStore
(RocksDB in production via `spark.sql.streaming.stateStore.
providerClass`), partitioned by grouping key, and no Python worker.

`funnel_levels_stream` is the one shape the built-in aggregates
can't express — a sequential per-key fold — so it keeps arbitrary
per-user Python state, Arrow-batched per key, held in the executors'
state store.  It is the package's only Python stateful operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def running_click_totals(stream: DataFrame) -> DataFrame:
    """updateStateByKey-equivalent running totals per (day, ad_id):
    in update mode each micro-batch emits the new cumulative count of
    every key it touched."""
    return (
        stream.where(F.col("event_type") == "click")
        .groupBy("day", "ad_id")
        .agg(F.count(F.lit(1)).alias("click_count"))
    )


def final_totals(updates: DataFrame) -> DataFrame:
    """Collapse an update-mode emission log to the final per-key
    value.  Counts are monotone, so max == last emission — lets a
    bounded-stream run be checked against the batch `groupBy().count()`
    oracle exactly."""
    return updates.groupBy("day", "ad_id").agg(F.max("click_count").alias("click_count"))


# ---- streaming windowFunnel ------------------------------------------------

FUNNEL_UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("r1", T.IntegerType()),
        T.StructField("r2", T.IntegerType()),
        T.StructField("r3", T.IntegerType()),
    ]
)

# latest chain-start (epoch-us) reaching each funnel level; -1 unreached
_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("l1", T.LongType()),
        T.StructField("l2", T.LongType()),
        T.StructField("l3", T.LongType()),
    ]
)

_FUNNEL_TYPE_CODE = {"view": 1, "click": 2, "purchase": 3}


def funnel_levels_stream(stream: DataFrame, window_s: int = 6 * 3600) -> DataFrame:
    """STREAMING windowFunnel: the greedy max-start fold of
    operators/engagement.py::funnel_within_window as per-user
    arbitrary state — the (l1, l2, l3) accumulator IS the fold's
    state, so resuming it across micro-batches computes exactly the
    batch fold as long as each user's events arrive in (ts, event_id)
    order across batches (the replay fixture splits phases on a time
    boundary; a production feed gets this from per-key kafka ordering
    + a sorted-within-batch shuffle).  Rows are sorted within each
    batch; emitted level flags are monotone, so the final value per
    user is the max over its update log.

    The per-key python loop is genuinely sequential state logic (each
    step reads the accumulator the previous step wrote) — the one
    shape where row-at-a-time beats a vectorized rewrite; batches
    arrive Arrow-batched per key like every applyInPandasWithState
    operator."""
    t_us = int(window_s) * 1_000_000

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:  # pragma: no cover - no timeout armed
            state.remove()
            return
        l1, l2, l3 = state.getOption or (-1, -1, -1)
        rows = []
        for pdf in pdfs:
            for us, eid, tc in zip(
                pdf["us"].to_numpy(), pdf["event_id"].to_numpy(), pdf["tc"].to_numpy()
            ):
                rows.append((int(us), int(eid), int(tc)))
        rows.sort()
        for us, _eid, tc in rows:
            if tc == 1:
                if us > l1:
                    l1 = us
            elif tc == 2:
                if l1 >= 0 and us - l1 <= t_us and l1 > l2:
                    l2 = l1
            else:
                if l2 >= 0 and us - l2 <= t_us and l2 > l3:
                    l3 = l2
        state.update((l1, l2, l3))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "r1": [1 if l1 >= 0 else 0],
                "r2": [1 if l2 >= 0 else 0],
                "r3": [1 if l3 >= 0 else 0],
            }
        )

    typed = stream.where(
        F.col("event_type").isin(*_FUNNEL_TYPE_CODE)
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .otherwise(3)
        .alias("tc"),
    )
    return typed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_UPDATE_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_funnel_counts(updates: DataFrame) -> DataFrame:
    """Collapse the update log to the batch operator's 3-row shape:
    flags are monotone, so max == final; one explode, no union."""
    per_user = updates.groupBy("user_id").agg(
        F.max("r1").alias("r1"), F.max("r2").alias("r2"), F.max("r3").alias("r3")
    )
    totals = per_user.agg(
        F.sum("r1").cast("bigint").alias("u1"),
        F.sum("r2").cast("bigint").alias("u2"),
        F.sum("r3").cast("bigint").alias("u3"),
    )

    def stage(n: int, name: str, col: str):
        return F.struct(
            F.lit(n).cast("bigint").alias("step"),
            F.lit(name).alias("stage"),
            F.coalesce(F.col(col), F.lit(0)).cast("bigint").alias("users"),
        )

    return (
        totals.select(
            F.explode(
                F.array(
                    stage(1, "view", "u1"),
                    stage(2, "view>click", "u2"),
                    stage(3, "view>click>purchase", "u3"),
                )
            ).alias("s")
        )
        .select("s.step", "s.stage", "s.users")
        .orderBy("step")
    )
