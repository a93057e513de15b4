"""Module 1 rebuild: user-visit session analysis.

Reference: spark/session/UserVisitSessionAnalyzeSpark.java (1979
lines of JavaPairRDD plumbing).  The rebuild is a handful of
declarative DataFrame plans:

* `session_stats`     — the session rollup (ref :340-455)
* `filter_sessions`   — the param-driven predicate engine
                        (ref :839-906 + util/ValidUtils.java:20-106)
* `session_aggr_stat` — 16-bucket histogram ratios; replaces the
                        custom string Accumulator
                        (SessionAggrStatAccumulator.java:20-93)
* `session_random_extract` — stratified per-(day,hour) extract
                        (ref :989-1253), made deterministic
* `session_detail`    — semi-join back to raw actions (ref :965-983)
* `top10_categories`  — click/order/pay counts + composite-key top-k
                        (ref :1330-1456, CategorySortKey.java:21-133)
* `top10_category_sessions` — grouped top-N per category
                        (ref :1797-1944; fixes the size-3/shift-9
                        array bugs with a window row_number)

Scale notes: the rollup is one shuffle on `session_id`; all
enrichment joins broadcast the dimension side; top-k uses
TakeOrderedAndProject (no global sort materialization); the grouped
top-N window partitions by category (bounded cardinality, no skew
risk — clicks-per-category is further pre-aggregated before the
window so the window input is |categories × sessions-with-clicks|,
not raw events).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import between_count, csv_set_agg
from ..params import TaskParams

# histogram bucket edges — UserVisitSessionAnalyzeSpark.java:912-952
VISIT_BUCKETS: list[tuple[str, tuple[float | None, float | None]]] = [
    ("visit_1s_3s", (1, 3)),
    ("visit_4s_6s", (4, 6)),
    ("visit_7s_9s", (7, 9)),
    ("visit_10s_30s", (10, 30)),
    ("visit_30s_60s", (None, 60)),    # >30 and <=60
    ("visit_1m_3m", (None, 180)),     # >60 and <=180
    ("visit_3m_10m", (None, 600)),    # >180 and <=600
    ("visit_10m_30m", (None, 1800)),  # >600 and <=1800
    ("visit_30m", (None, None)),      # >1800
]
STEP_BUCKETS: list[tuple[str, tuple[float | None, float | None]]] = [
    ("step_1_3", (1, 3)),
    ("step_4_6", (4, 6)),
    ("step_7_9", (7, 9)),
    ("step_10_30", (10, 30)),
    ("step_30_60", (None, 60)),       # >30 and <=60
    ("step_60", (None, None)),        # >60
]


def session_stats(actions: DataFrame) -> DataFrame:
    """Per-session rollup — the reference's "session-granularity
    aggregation" (UserVisitSessionAnalyzeSpark.java:340-455).

    visit_length is floor-epoch-seconds(max) − floor-epoch-seconds(min),
    matching the ref's (max−min)/1000 integer millis division (:428).
    The keyword/category concat uses TRUE set semantics (sorted CSV);
    the ref dedupes via String.contains (:392,397) — documented fix.

    Shuffle elision: when the input carries sessionize's raw
    (user_id, session_seq) key, we group on THAT instead of the
    derived session_id string — the sessionize window already hash-
    partitioned by user_id, and a partitioning on a subset of the
    grouping keys satisfies the aggregation's clustering requirement,
    so the rollup runs with NO second shuffle (asserted in
    tests/test_plans.py).  Grouping by session_id (a computed concat)
    would force a full re-shuffle of every event row.
    """
    # time arithmetic runs on epoch-micros integers (one ntz→utc cast
    # + unix_micros per row, then pure int64 ops): the per-row
    # unix_timestamp + hour() chronology functions this replaces cost
    # ~20% of the whole rollup at sf0.1.  CONTRACT: assumes the
    # engine's pinned UTC session (session.py / __spark_entry__) and
    # post-1970 timestamps — the ntz→timestamp cast reads the session
    # timezone, so a non-UTC session would shift start_hour off the
    # ntz wall clock (the whole oracle-parity surface shares this
    # UTC-session assumption, see sources/loaders.epoch_us).  Only min/max epochs cross
    # the aggregation; start_time/visit_length are derived POST-agg on
    # |sessions| rows.  start_hour stays min-of-per-row-hours (NOT
    # hour-of-min-ts — they differ on midnight-crossing sessions) as
    # an integer div/mod of the same epoch expression.
    em = F.unix_micros(F.col("ts").cast("timestamp"))
    row_hour = F.expr(
        "(unix_micros(cast(ts as timestamp)) div 3600000000) % 24"
    ).cast("bigint")
    if "session_seq" in actions.columns and "user_id" in actions.columns:
        grouped = actions.groupBy("user_id", "session_seq")
        id_cols = [
            F.concat_ws("_", F.col("user_id"), F.col("session_seq")).alias("session_id"),
            F.col("user_id"),
        ]
    else:
        grouped = actions.groupBy("session_id")
        id_cols = [F.col("session_id"), F.col("user_id")]
    aggd = grouped.agg(
        *([] if "session_seq" in actions.columns else [F.min("user_id").alias("user_id")]),
        F.min(em).alias("_min_us"),
        F.max(em).alias("_max_us"),
        F.count(F.lit(1)).alias("step_length"),
        csv_set_agg("event_type").alias("event_types"),
        csv_set_agg("category_id", F.col("event_type") == "click").alias(
            "click_category_ids"
        ),
        # per-row quantization to cents, exact integer sum — double
        # summation order differs across engines/partitionings
        (
            F.sum(F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint"))
            / F.lit(100.0)
        ).alias("total_value"),
        F.min("day").alias("day"),
        F.min(row_hour).alias("start_hour"),
    )
    return aggd.select(
        *id_cols,
        F.date_format(
            F.timestamp_micros(F.col("_min_us")).cast("timestamp_ntz"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("start_time"),
        F.expr("(_max_us div 1000000) - (_min_us div 1000000)").alias("visit_length"),
        "step_length",
        "event_types",
        "click_category_ids",
        "total_value",
        "day",
        "start_hour",
    )


# Exact reference bucket edges (closed/open per :912-952), as SQL
# fragments over a column NAME.  Built as strings so the 16-bucket
# aggregate parses in ONE py4j round trip per bucket instead of ~8
# Column-op round trips each (the round-12 expression-builder note in
# operators/dedup.py; this builder alone was 1.76 s of construction
# per session_aggr consumer, cProfile-measured).  The parsed trees
# are the same >=/AND nodes the Column ops built.
_BUCKET_CONDS: dict[str, str] = {
    "visit_1s_3s": "({c} >= 1) AND ({c} <= 3)",
    "visit_4s_6s": "({c} >= 4) AND ({c} <= 6)",
    "visit_7s_9s": "({c} >= 7) AND ({c} <= 9)",
    "visit_10s_30s": "({c} >= 10) AND ({c} <= 30)",
    "visit_30s_60s": "({c} > 30) AND ({c} <= 60)",
    "visit_1m_3m": "({c} > 60) AND ({c} <= 180)",
    "visit_3m_10m": "({c} > 180) AND ({c} <= 600)",
    "visit_10m_30m": "({c} > 600) AND ({c} <= 1800)",
    "visit_30m": "{c} > 1800",
    "step_1_3": "({c} >= 1) AND ({c} <= 3)",
    "step_4_6": "({c} >= 4) AND ({c} <= 6)",
    "step_7_9": "({c} >= 7) AND ({c} <= 9)",
    "step_10_30": "({c} >= 10) AND ({c} <= 30)",
    "step_30_60": "({c} > 30) AND ({c} <= 60)",
    "step_60": "{c} > 60",
}


def _bucket_count_expr(col: str, name: str) -> Column:
    """between_count over the `name` predicate of _BUCKET_CONDS as one
    parsed aggregate —
    cast(sum(CASE WHEN cond THEN 1 ELSE 0 END) as bigint), the exact
    tree functions.between_count builds."""
    cond = _BUCKET_CONDS[name].format(c=col)
    return F.expr(
        f"cast(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) as bigint) AS n_{name}"
    )


def filter_sessions(sessions: DataFrame, users: DataFrame, params: TaskParams) -> DataFrame:
    """The param-driven session predicate engine.

    Rebuilds UserVisitSessionAnalyzeSpark.java:839-906 +
    util/ValidUtils.java:20-106 as a single composed Column: `between`
    → Column.between, `in` → isin, CSV-overlap → arrays_overlap on
    split columns, missing param → no constraint.  The user join
    broadcasts the dimension (the ref's hand-built map-join,
    :516-561, is Catalyst's default here).
    """
    df = sessions.join(F.broadcast(users), "user_id")
    cond = F.lit(True)
    if params.start_age is not None:
        cond &= F.col("age") >= params.start_age
    if params.end_age is not None:
        cond &= F.col("age") <= params.end_age
    if params.professionals:
        cond &= F.col("professional").isin(*params.professionals)
    if params.cities:
        cond &= F.col("city").isin(*params.cities)
    if params.sex is not None:
        cond &= F.col("sex") == params.sex
    if params.keywords:
        cond &= F.arrays_overlap(
            F.split(F.col("event_types"), ","),
            F.array(*[F.lit(k) for k in params.keywords]),
        )
    if params.category_ids:
        cond &= F.arrays_overlap(
            F.split(F.col("click_category_ids"), ","),
            F.array(*[F.lit(str(c)) for c in params.category_ids]),
        )
    if params.start_date is not None:
        cond &= F.col("day") >= params.start_date
    if params.end_date is not None:
        cond &= F.col("day") <= params.end_date
    return df.where(cond)


def session_aggr_stat(filtered_sessions: DataFrame) -> DataFrame:
    """Single-row 16-bucket histogram with HALF_UP 2-dp ratios —
    `session_aggr_stat` (domain/SessionAggrStat.java:8-24).

    One conditional-aggregation pass (map-side partial agg) replaces
    the reference's side-effecting string Accumulator; ratios =
    round(bucket/total, 2) (ref :1269-1320, NumberUtils HALF_UP).
    """
    aggs = [F.count(F.lit(1)).alias("session_count")]
    for name, _ in VISIT_BUCKETS:
        aggs.append(_bucket_count_expr("visit_length", name))
    for name, _ in STEP_BUCKETS:
        aggs.append(_bucket_count_expr("step_length", name))
    counts = filtered_sessions.agg(*aggs)
    # HALF_UP 2-dp ratio, the exact functions.ratio/qround tree —
    # floor(x*100 + 0.5)/100 over double casts — as one parsed
    # expression per bucket
    out = counts.select(
        F.col("session_count"),
        *[
            F.expr(
                f"floor(cast(n_{name} as double) / cast(session_count as double)"
                f" * 100.0D + 0.5D) / 100.0D AS {name}_ratio"
            )
            for name, _ in VISIT_BUCKETS + STEP_BUCKETS
        ],
    )
    return out


def session_random_extract(sessions: DataFrame, total: int = 1000) -> DataFrame:
    """Stratified per-(day, hour) session extract — ref :989-1253.

    Default total=1000 follows README 需求3 (the code hardcodes 100,
    UserVisitSessionAnalyzeSpark.java:1056 — at 30 days × ~20 active
    hours a 100-session target floors every per-hour quota to 0).
    The reference draws `total/num_days` sessions per day, spread
    across hours proportionally to that hour's share of the day's
    sessions, capped at the hour's count (:1056,1097-1100), using
    unseeded java.util.Random.  Rebuild: identical quota math, but
    the "random" order is md5(session_id) — deterministic, uniform,
    reproducible in any engine (the oracle computes the exact same
    rows).  Everything stays distributed: quotas are window
    aggregates, no driver-side index maps (ref broadcasts a
    fastutil IntList, :1123-1150).
    """
    # the distinct-day count is a scalar: a global Window would drag
    # every session row through ONE partition (WindowExec warns); a
    # 1-row aggregate broadcast-cross-joined in keeps the plan fully
    # distributed at any scale
    n_days_df = sessions.select(F.countDistinct("day").alias("n_days"))
    w_day = Window.partitionBy("day")
    per_day = F.floor(F.lit(total) / F.col("n_days"))
    day_cnt = F.count(F.lit(1)).over(w_day)
    hour_cnt = F.count(F.lit(1)).over(Window.partitionBy("day", "start_hour"))
    quota = F.least(
        F.floor(hour_cnt.cast("double") / day_cnt.cast("double") * per_day), hour_cnt
    )
    rn = F.row_number().over(
        Window.partitionBy("day", "start_hour").orderBy(F.md5(F.col("session_id")))
    )
    return (
        sessions.crossJoin(F.broadcast(n_days_df))
        .withColumn("quota", quota)
        .withColumn("rn", rn)
        .where(F.col("rn") <= F.col("quota"))
        .select("session_id", "start_time", "event_types", "click_category_ids")
    )


def session_detail(actions: DataFrame, chosen_sessions: DataFrame) -> DataFrame:
    """Full action rows for a chosen session set — the reference's
    join-back (ref :1223,965-983).  left_semi keeps the fact side
    lean; Catalyst broadcasts the (small) session-id side."""
    return actions.join(
        F.broadcast(chosen_sessions.select("session_id")), "session_id", "left_semi"
    )


def top10_categories(actions: DataFrame, n: int = 10) -> DataFrame:
    """Top-N categories by (click, order, pay) composite key.

    The reference explodes CSV ids, runs three reduceByKey jobs, and
    3-way left-joins them (ref :1337-1790); the rebuild is ONE
    groupBy with conditional sums — no join at all (SURVEY.md §2.3).
    The composite ordering reproduces CategorySortKey.java:21-133;
    `category_id` added as a deterministic tie-break.  `purchase`
    stands in for "order", `signup` for "pay" in the testdata's
    event-type domain.
    """
    counted = (
        actions.where(F.col("category_id").isNotNull())
        .groupBy("category_id")
        .agg(
            between_count(F.col("event_type") == "click").alias("click_count"),
            between_count(F.col("event_type") == "purchase").alias("order_count"),
            between_count(F.col("event_type") == "signup").alias("pay_count"),
        )
    )
    return counted.orderBy(
        F.desc("click_count"), F.desc("order_count"), F.desc("pay_count"), F.asc("category_id")
    ).limit(n)


def top10_category_sessions(actions: DataFrame, top_categories: DataFrame, n: int = 10) -> DataFrame:
    """Per top-category, top-N sessions by click count — ref
    :1797-1944.  The hand-rolled insertion sort there has two real
    bugs (array sized 3 but shift loop from index 9, NPE on sparse
    groups, :1892,1910,1925-1927); rebuilt as pre-aggregation + a
    row_number window with session_id tie-break, N=10 per the stated
    "top10" intent."""
    filtered = actions.where(F.col("event_type") == "click").join(
        F.broadcast(top_categories.select("category_id")), "category_id"
    )
    # same elision as session_stats: grouping on the raw sessionize
    # key (user_id ⊆ grouping keys) reuses the window's partitioning —
    # the only remaining shuffle is the tiny post-agg category window
    if "session_seq" in actions.columns:
        clicks = (
            filtered.groupBy("category_id", "user_id", "session_seq")
            .agg(F.count(F.lit(1)).alias("click_count"))
            .select(
                "category_id",
                F.concat_ws("_", F.col("user_id"), F.col("session_seq")).alias(
                    "session_id"
                ),
                "click_count",
            )
        )
    else:
        clicks = filtered.groupBy("category_id", "session_id").agg(
            F.count(F.lit(1)).alias("click_count")
        )
    w = Window.partitionBy("category_id").orderBy(
        F.desc("click_count"), F.asc("session_id")
    )
    return clicks.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= n).drop("rn")
