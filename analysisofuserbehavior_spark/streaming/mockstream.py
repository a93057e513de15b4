"""Streaming mock generator — the reference's Kafka producer twin.

Reference: util/MockRealTimeData.java:35-51 — a thread emitting one
`timestamp province city userid adid` wire string every 100 ms
(~10 rows/s) to the AdRealTimeLog topic, with province drawn from a
fixed 5-entry list, city from a fixed 2-city-per-province map,
userid in [0,1000), adid in [0,10).

The rebuild rides Structured Streaming's rate-micro-batch source
instead of an external producer thread: the source supplies a
monotonically increasing row index (`value`) and an event timestamp
fixed per batch, and every randomised pick is replaced by
a DETERMINISTIC hash of that index (xxhash64 with a distinct seed per
field).  That keeps the generator purely declarative — no Python
callback per row, no driver-side thread — and makes tests
reproducible: the same row index always yields the same wire string.

The output is a single `value` string column in the reference's EXACT
wire format, so `parse_ad_click_wire` consumes it unchanged — the
generator is byte-compatible with a producer feeding the reference
system, minus the broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# MockRealTimeData.java:12,18-22 — the exact province/city universe.
PROVINCES: list[str] = ["Jiangsu", "Hubei", "Hunan", "Henan", "Hebei"]
PROVINCE_CITIES: dict[str, list[str]] = {
    "Jiangsu": ["Nanjing", "Suzhou"],
    "Hubei": ["Wuhan", "Jingzhou"],
    "Hunan": ["Changsha", "Xiangtan"],
    "Henan": ["Zhengzhou", "Luoyang"],
    "Hebei": ["Shijiazhuang", "Tangshan"],
}


def _pick(idx_col, seed: int, n: int):
    """Deterministic stand-in for `random.nextInt(n)` keyed on the
    rate-source row index — pmod because xxhash64 is signed."""
    return F.pmod(F.xxhash64(idx_col, F.lit(seed)), F.lit(n))


def ad_click_wire_rows(raw: DataFrame) -> DataFrame:
    """Map a rate-source frame (`timestamp`, `value` row index) to the
    reference wire format (MockRealTimeData.java:42:
    `time + " " + province + " " + city + " " + userid + " " + adid`).

    All expressions are row-local JVM code (element_at over literal
    arrays, hash, concat) — zero shuffle, works identically on the
    unbounded stream and on a literal batch frame (how the unit tests
    pin exact values without running a stream)."""
    provinces = F.array(*[F.lit(p) for p in PROVINCES])
    # cities flattened province-major: index = province_idx * 2 + city_pick
    cities = F.array(
        *[F.lit(c) for p in PROVINCES for c in PROVINCE_CITIES[p]]
    )
    pidx = _pick(F.col("value"), 1, len(PROVINCES))
    cidx = pidx * 2 + _pick(F.col("value"), 2, 2)
    return raw.select(
        F.concat_ws(
            " ",
            F.unix_millis(F.col("timestamp")).cast("string"),
            F.element_at(provinces, (pidx + 1).cast("int")),
            F.element_at(cities, (cidx + 1).cast("int")),
            _pick(F.col("value"), 3, 1000).cast("string"),
            _pick(F.col("value"), 4, 10).cast("string"),
        ).alias("value")
    )


def mock_ad_click_micro_batches(
    spark: SparkSession, rows_per_batch: int = 50, start_ms: int = 0
) -> DataFrame:
    """Deterministic micro-batch twin (rate-micro-batch source): every
    trigger yields exactly `rows_per_batch` rows with row indices and
    timestamps fixed by (start_ms, batch number) — replayable, so
    tests of at-least-once sinks get identical batches on re-run."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", start_ms)
        .load()
    )
    return ad_click_wire_rows(raw)
