"""Column-expression helpers shared across operators.

These replace the reference's scalar-function layer (SURVEY.md §2.8):

* `StringUtils.getFieldFromConcatString` / `setFieldInConcatString`
  (util/StringUtils.java:62-107) — obsolete: intermediate records are
  real columns, never `k=v|k=v` strings.
* `GroupConcatDistinctUDAF` (spark/product/GroupConcatDistinctUDAF.java:17-113)
  → `csv_set_agg`: built-in `collect_set` + `array_sort` + `array_join`.
  The reference's UDAF dedupes with `String.contains` (a substring
  test — "12" matches inside "112"); we use true set semantics and
  document the divergence.
* `GetJsonObjectUDF` (spark/product/GetJsonObjectUDF.java:12-27)
  → built-in `get_json_object` via `json_long`.
* `NumberUtils.formatDouble` HALF_UP 2-decimal rounding
  (util/NumberUtils.java:16-21) → `F.round(col, 2)` (HALF_UP on
  doubles) via `ratio`.
* the 16-bucket histogram conditions
  (UserVisitSessionAnalyzeSpark.java:896-952) → `between_count`.
* `DateUtils.getDateHour` yyyy-MM-dd_HH keys (util/DateUtils.java:88-93)
  → real (`day`, `hour`) columns via `day_col` / `hour_col`.

All helpers emit pure built-in expressions (JVM-side, codegen'd) —
no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def csv_set_agg(col: Column | str, cond: Column | None = None) -> Column:
    """Sorted-distinct CSV aggregation (`collect_set` → sort → join).

    Matches DuckDB `coalesce(string_agg(DISTINCT x, ',' ORDER BY x)
    FILTER (...), '')`: nulls dropped, deterministic order, empty
    group → ''.
    """
    c = _c(col)
    if cond is not None:
        c = F.when(cond, c)
    return F.array_join(F.array_sort(F.collect_set(c)), ",")


def between_count(cond: Column) -> Column:
    """`sum(case when cond then 1 else 0 end)` — one histogram bucket.

    The reference increments a custom string Accumulator inside a
    `filter` (SessionAggrStatAccumulator.java:20-93, a side-effecting
    transform); the rebuild is a plain conditional aggregation, which
    is deterministic and partial-aggregatable map-side.
    """
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


def qround(col: Column, scale: int = 2) -> Column:
    """HALF_UP rounding as floor(x*10^s + 0.5)/10^s.

    Built-in `round()` disagrees across engines at exact half
    boundaries (Spark rounds the shortest decimal string of the
    double — 4.725 → 4.73; DuckDB scales the binary value —
    4.7249999… → 4.72).  This formulation is two IEEE double ops,
    bit-identical everywhere, and the oracle SQL mirrors it verbatim.
    """
    f = F.lit(float(10**scale))
    return F.floor(col * f + F.lit(0.5)) / f


def md5_prefix32(col: Column | str) -> Column:
    """First 32 bits of md5 as a non-negative BIGINT — the
    CROSS-ENGINE token mixer: Spark `conv(substr(md5(x),1,8),16,10)`
    and DuckDB `CAST('0x'||substr(md5(x),1,8) AS BIGINT)` agree
    bit-for-bit on every UTF-8 string (validated incl. empty and
    non-ASCII).  Used where a hashed value must HASH-GATE across
    engines (simhash bit votes, the Rabin-Karp rolling fingerprint);
    xxhash64 stays the choice where only Spark-side determinism
    matters (it's ~5× cheaper per token), but it has no ANSI-SQL
    twin, which forced those operators into rows-only checks before
    round 10."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("bigint")


def cents_sum(col: Column | str, cond: Column | None = None, sign: Column | None = None) -> Column:
    """Money sum as integer cents: floor(x*100+0.5) per row, summed
    as bigint, /100.0 at the end.  Distributed double summation is
    order-dependent in the last bits; integer cents make the sum
    bit-identical across engines and partitionings (mirrors the
    oracle's `sum(CAST(floor(value*100+0.5) AS BIGINT))/100.0`).
    Optional `cond` gates rows; optional `sign` (±1) makes signed
    (period-delta) sums."""
    c = F.floor(_c(col) * 100.0 + F.lit(0.5)).cast("bigint")
    if sign is not None:
        c = c * sign
    if cond is not None:
        c = F.when(cond, c).otherwise(F.lit(0))
    return F.sum(c) / F.lit(100.0)


def ratio(numer: Column, denom: Column, scale: int = 2) -> Column:
    """HALF_UP rounded ratio — NumberUtils.formatDouble parity."""
    return qround(numer.cast("double") / denom.cast("double"), scale)


def day_col(ts: Column | str) -> Column:
    return F.date_format(_c(ts), "yyyy-MM-dd")


def hour_col(ts: Column | str) -> Column:
    return F.hour(_c(ts)).cast("bigint")


def json_long(col: Column | str, path: str) -> Column:
    return F.get_json_object(_c(col), path).cast("bigint")


