"""Storage-layout writers for the 100 TB deployment shape.

The reference's only layout decision is a Hive table scanned with an
interpolated date predicate (util/SparkUtils.java:64-90).  At scale
the layout IS the index: facts land partitioned by `day`, so the
date-range predicate every module starts with (`WHERE date BETWEEN
...`, SURVEY.md §2.1) becomes partition PRUNING — untouched days are
never listed, let alone read (tests/test_layout_udfs.py checks the
PartitionFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def overwrite_day_partitions(
    df: DataFrame, path: str, ts_col: str = "ts"
) -> None:
    """IDEMPOTENT backfill into a day-partitioned table: dynamic
    partition overwrite replaces ONLY the day directories present in
    `df`, leaving every other partition byte-identical — the
    re-runnable ingestion step a 100 TB pipeline needs (a failed
    Tuesday job re-runs without touching Monday, and without the
    read-modify-write cycle a full overwrite would force).

    STATIC overwrite (the default) would TRUNCATE the whole table
    first — the classic backfill footgun.  The mode is passed as a
    PER-WRITE DataFrameWriter option (it takes precedence over the
    session conf), so session state is never mutated — a concurrent
    writer on the same SparkSession can't observe a flipped default,
    and a previously-unset conf stays unset.  At warehouse scale the
    same call works against a catalog table via insertInto
    (saveAsTable layout, SURVEY.md §2.1 sinks)."""
    (
        df.withColumn("day", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        .repartition("day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
