"""Streaming running totals (streaming/stateful.py).

Drives a REAL multi-batch stream: the events split across several
files with maxFilesPerTrigger=1 forces one micro-batch per file, so
state genuinely carries across batches — each batch's emission must
be the cumulative total, not the batch-local count.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.streaming.ad_stream import EVENTS_FILE_SCHEMA
from analysisofuserbehavior_spark.streaming.stateful import (
    final_totals,
    running_click_totals,
)


def _write_batches(spark, base):
    """Three single-row-group files, one click per (day, ad) pattern."""
    rows = [
        # (file, event_id, day, user, type, k)
        (0, 1, 1, 7, "click", 3),
        (0, 2, 1, 8, "click", 3),
        (1, 3, 1, 7, "click", 3),
        (1, 4, 1, 7, "view", 3),
        (2, 5, 2, 9, "click", 3),
        (2, 6, 1, 9, "click", 5),
    ]
    for fno in (0, 1, 2):
        batch = [
            (
                eid,
                dt.datetime(2024, 1, d),
                u,
                et,
                1.0,
                '{"k": %d}' % k,
            )
            for f, eid, d, u, et, k in rows
            if f == fno
        ]
        spark.createDataFrame(batch, EVENTS_FILE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, f"b{fno}"))


def _stream(spark, base):
    raw = (
        spark.readStream.schema(EVENTS_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/b*")
    )
    return (
        raw.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("ad_id", F.get_json_object("props", "$.k").cast("bigint"))
    )


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    base = str(tmp_path / "ev")
    _write_batches(spark, base)
    updates = running_click_totals(_stream(spark, base))
    q = (
        updates.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("stateful_test").collect()

    # ad 3 on day 1: clicks arrive in ≥2 separate batches — state must
    # have produced a strictly increasing emission series ending at 3
    series = sorted(
        r["click_count"] for r in emitted if r["day"] == "2024-01-01" and r["ad_id"] == 3
    )
    assert series[-1] == 3 and len(series) >= 2, series

    finals = {
        (r["day"], r["ad_id"]): r["click_count"]
        for r in final_totals(spark.table("stateful_test")).collect()
    }
    assert finals == {
        ("2024-01-01", 3): 3,
        ("2024-01-02", 3): 1,
        ("2024-01-01", 5): 1,
    }
