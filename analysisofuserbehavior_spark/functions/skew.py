"""Skew-mitigation utilities — the reference's manual rewrites,
kept as explicit library functions.

Reference: two-phase random-prefix aggregation
(UserVisitSessionAnalyzeSpark.java:1521-1577) and random-prefix /
expansion skew joins (:564-803, live SQL variant
AreaTop3ProductSpark.java:298-322,363-408).  In this engine AQE
(skewJoin + coalescePartitions, on in session.py) makes the join
rewrites obsolete, and Tungsten's hash aggregate already does
map-side partial aggregation — so these helpers exist for the ONE
case AQE can't fix: a single pathological key inside a non-algebraic
aggregation (e.g. collect_set of a giant group), where the partial
agg itself blows one task.  `salted_agg` shards each key across
`n_salts` reducers and re-aggregates; correctness requires the
aggregate to be decomposable (count/sum/min/max/collect_set-union).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def with_salt(df: DataFrame, n_salts: int, col_name: str = "_salt") -> DataFrame:
    """Arbitrary shard id in [0, n_salts) for two-phase aggregation.

    NOT stable across retries: monotonically_increasing_id depends on
    partition layout, which AQE coalescing or input-split changes can
    reshuffle, so a recomputed stage may salt rows differently.  That
    is safe for the ONLY supported use — decomposable aggregates
    (salted_agg), whose final result is independent of which shard a
    row lands in — and unsafe for anything where the salt value
    itself matters; salt from a hash of stable key columns in that
    case."""
    return df.withColumn(
        col_name,
        F.pmod(
            F.xxhash64(F.spark_partition_id(), F.monotonically_increasing_id()),
            F.lit(n_salts),
        ),
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial: Sequence[Column],
    final: Sequence[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) with `partial`
    aggregates, then groupBy(keys) with `final` aggregates over the
    partial results.

    Example — skew-proof count:
        salted_agg(df, ["k"],
                   [F.count(F.lit(1)).alias("c")],
                   [F.sum("c").alias("cnt")])
    """
    salted = with_salt(df, n_salts)
    phase1 = salted.groupBy(*keys, "_salt").agg(*partial)
    return phase1.groupBy(*keys).agg(*final)


def salted_count(df: DataFrame, keys: Sequence[str], n_salts: int = 16) -> DataFrame:
    return salted_agg(
        df,
        keys,
        [F.count(F.lit(1)).alias("_partial")],
        [F.sum("_partial").cast("bigint").alias("count")],
        n_salts,
    )


def grouped_top_k(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    n_salts: int = 16,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-k rows per key, skew-proof: phase 1 ranks within
    (keys + salt) shards and keeps ≤k per shard — bounding any single
    window task at shard size — phase 2 re-ranks the ≤ k*n_salts
    survivors per key.  Any sharding yields the same result (each
    shard's top-k is a superset of its contribution to the global
    top-k), so the unstable salt is safe here.  `order_by` must be a
    total order (include a unique tiebreak column) or ranks are
    nondeterministic."""
    salted = with_salt(df, n_salts)
    w1 = Window.partitionBy(*keys, "_salt").orderBy(*order_by)
    phase1 = (
        salted.withColumn("_rk1", F.row_number().over(w1))
        .where(F.col("_rk1") <= k)
        .drop("_rk1", "_salt")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order_by)
    return phase1.withColumn(rank_col, F.row_number().over(w2)).where(
        F.col(rank_col) <= k
    )
