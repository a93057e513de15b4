"""The UDF registration surface — §2.12 parity.

The reference registers five UDFs/UDAFs on its SQLContext
(AreaTop3ProductSpark.java:76-80).  Every one of them maps to a
built-in expression in modern Spark (SURVEY.md §2.8), so what this
module preserves is two things: the column-level equivalents
(preferred — they stay inside whole-stage codegen), and the
*registration mechanism* so SQL text written against the reference's
function names still runs (`register_reference_udfs`).

| reference UDF            | Ref                                   | backing here               |
|--------------------------|---------------------------------------|----------------------------|
| concat_long_string       | ConcatLongStringUDF.java:8-17         | concat_ws                  |
| get_json_object(2-arg)   | GetJsonObjectUDF.java:12-27           | built-in already           |
| random_prefix            | RandomPrefixUDF.java:11-22            | AQE skew join (no salting) |
| remove_random_prefix     | RemoveRandomPrefixUDF.java:10-20      | substr after first '_'     |
| group_concat_distinct    | GroupConcatDistinctUDAF.java:17-113   | functions.csv_set_agg      |

`remove_random_prefix` intentionally FIXES the reference bug: its
`split("_")[1]` drops everything after a second underscore; ours
strips exactly the first prefix segment.  The UDAF's substring-based
"distinct" (String.contains, GroupConcatDistinctUDAF.java:69-77) is
replaced by true set semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def concat_long_string(v1: Column | str, v2: Column | str, sep: str) -> Column:
    return F.concat_ws(sep, _c(v1).cast("string"), _c(v2).cast("string"))


def remove_random_prefix(col: Column | str) -> Column:
    """Strip one salt segment — everything after the FIRST '_'."""
    c = _c(col)
    return F.substring(c, F.instr(c, "_") + F.lit(1), F.lit(2147483647))


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
