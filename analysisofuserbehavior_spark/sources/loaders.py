"""Parquet table loaders for the driver testdata star schema.

Replaces the reference's three source paths — HiveContext temp-table
scan (util/SparkUtils.java:38-90), JDBC dimension read
(AreaTop3ProductSpark.java:176-218), and the in-memory mock generator
(util/MockData.java:29-175) — with one declarative parquet reader.
Predicate pushdown / column pruning happen in Catalyst, so callers
just `.where()`/`.select()` on the returned DataFrame; the date-range
SQL-string interpolation of SparkUtils.java:71-77 is unnecessary.

At 100 TB the fact tables (events, lineitem, documents) would be laid
out partitioned by date (`.write.partitionBy('dt')`) so the same
`.where(col('dt').between(...))` prunes partitions — see
plans/layout.py for the writer that produces that layout.

Timestamp contract: the driver parquet stores `events.ts` (and the
TPC-H date columns) as TIMESTAMP(MICROS) without timezone, which
Spark reads natively as `timestamp_ntz`.  Date-range predicates
should compare `ts` against `ntz_lit(...)` literals: an ntz-vs-ntz
comparison reaches the parquet scan as a row-group filter
(PushedFilters: GreaterThanOrEqual(ts, ...) — asserted in
tests/test_plans.py), whereas a tz-aware `cast('...' as timestamp)`
literal forces a cast onto the column and kills the scan filter.
Epoch arithmetic uses `unix_micros(ts.cast('timestamp'))` — the
session timezone is pinned UTC (session.py), so the ntz→tz cast is
the identity on the wall-clock value and matches DuckDB's
`epoch_us(ts)` exactly.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ntz_lit(iso: str) -> Column:
    """TIMESTAMP_NTZ literal for an ISO date/datetime string — the
    only literal form that pushes a `ts` predicate down to the
    parquet row-group stats (see module docstring)."""
    s = iso if " " in iso or "T" in iso else iso + " 00:00:00"
    return F.expr(f"TIMESTAMP_NTZ '{s}'")


def epoch_us(col: str | Column) -> Column:
    """Epoch-microseconds of an ntz timestamp column (UTC session →
    exact; mirrors DuckDB `epoch_us`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# catalog source mode (round 10, VERDICT r07 #7): pass
# `sf_dir="catalog:<database>"` to read every table through the
# metastore (`spark.table`) instead of parquet paths — the production
# mode of the reference (util/SparkUtils.java:38-44: HiveContext in
# production, generated local tables otherwise).  Because every
# operator and registry query reaches its tables through load_table,
# flipping this prefix flips the ENTIRE engine's source mode; the
# parity test proves a gated query hashes identically both ways.
CATALOG_PREFIX = "catalog:"


def save_tables_to_catalog(
    spark: SparkSession, sf_dir: str, database: str
) -> str:
    """Materialize the star schema as MANAGED metastore tables under
    `database` (spark-warehouse) and return the `catalog:<database>`
    sf_dir that reads them back.  saveAsTable preserves the parquet
    schema exactly (incl. timestamp_ntz), so results are
    bit-identical to the path mode."""
    # the name is interpolated into SQL — reject anything that isn't
    # a plain identifier rather than trusting the caller (hyphens
    # break parsing; quotes would inject)
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", database):
        raise ValueError(f"invalid database identifier: {database!r}")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`")
    for name in TABLES:
        load_table(spark, sf_dir, name).write.mode("overwrite").saveAsTable(
            f"{database}.{name}"
        )
    return CATALOG_PREFIX + database


# (path, mtime) -> StructType.  Every bare spark.read.parquet() call
# pays a schema-inference footer read as its own 1-task Spark job
# (~0.2 s of driver/scheduler latency here) — profiled at 7 such jobs
# in tpch_q9_derived alone, one per table reference, re-paid on every
# run.  Production tables carry their schema in a catalog/metastore
# (the CATALOG_PREFIX mode below pays no inference either); this cache
# gives path-mode reads the same property.  Keyed by the path's mtime
# so a rewritten fixture (tests overwrite tmp dirs) re-infers instead
# of reading with a stale schema.  Schema metadata only — never rows.
_SCHEMA_CACHE: dict[tuple[str, float], object] = {}


def _parquet_with_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return spark.read.parquet(path)  # non-local FS: no stat, no cache
    key = (os.path.abspath(path), mtime)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# (session appId, path, mtime) -> analyzed JVM LogicalRelation (or
# None when the plan is not re-instantiable).  Even with the schema
# cached, building the reader relation costs ~25-35 ms of py4j/JVM
# work per call (measured warm: DataSource resolution + file listing)
# — and a full bench run re-loads the same star-schema tables well
# over a thousand times across query CONSTRUCTIONS.  A cache hit
# re-wraps the ANALYZED relation via Catalyst's
# MultiInstanceRelation.newInstance() (~7 ms: fresh attribute ids
# over the same resolved relation + file index) — returning the same
# Dataset object outright would make two independent references to a
# table share expression ids and trip the ambiguous-self-join check
# (tpch_q21's triple lineitem reference, found by the plan-lint
# suite).  Plan construction reuse only — never rows, never results;
# every action re-scans the parquet exactly as before.  Keyed by the
# same (path, mtime) rule as the schema cache (a rewritten fixture
# builds a fresh relation — the file listing inside the cached plan
# would otherwise go stale) plus the owning session's applicationId
# (a plan cannot outlive its SparkContext).
_REL_CACHE: dict[tuple[str, str, float], object] = {}


def _fresh_instance(spark: SparkSession, jplan) -> DataFrame:
    """A new DataFrame over `jplan.newInstance()` — same resolved
    relation and file index, fresh attribute ids (what Catalyst's own
    DeduplicateRelations does for self-joins)."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jplan.newInstance()
    )
    return DataFrame(jdf, spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if sf_dir.startswith(CATALOG_PREFIX):
        return spark.table(f"{sf_dir[len(CATALOG_PREFIX):]}.{name}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            os.path.getmtime(path),
        )
    except OSError:
        key = None  # non-local FS: no stat, no cache
    if key is not None:
        jplan = _REL_CACHE.get(key)
        if jplan is not None:
            return _fresh_instance(spark, jplan)
    df = _parquet_with_cached_schema(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # legacy driver layout: TIMESTAMP(NANOS) surfaced as long via
        # spark.sql.legacy.parquet.nanosAsLong — normalize to the
        # same ntz-micros shape the current layout carries (`div` =
        # integer division, identical to DuckDB's ns→us truncation).
        # A Project is not a MultiInstanceRelation, so this branch is
        # simply not relation-cached.
        return df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    if key is not None and key not in _REL_CACHE:
        from py4j.java_gateway import is_instance_of

        jplan = df._jdf.queryExecution().analyzed()
        gw = spark.sparkContext._gateway
        if is_instance_of(
            gw, jplan, "org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation"
        ):
            _REL_CACHE[key] = jplan
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def local_frame(
    spark: SparkSession, rows, schema: str | T.StructType
) -> DataFrame:
    """Driver-side rows (tuples or Rows, in `schema`'s column order) as
    a frame with exactly the declared schema — names, types and
    nullability — the engine's one small-frame builder.

    The rows cross to the JVM once as an Arrow table and plan as a
    LocalTableScan: no Python RDD, so no downstream scan ever starts a
    Python worker for them (a `createDataFrame(parallelize(rows))`
    frame plans as `Scan ExistingRDD`, and each of its partitions pays
    a worker round-trip per scan).  Meant for dimension-sized results
    a query collects before deleting its work dir, and for seed
    frames; large data stays in Spark.

    Rows arrive as one slice: a local scan would otherwise split them
    over up to defaultParallelism partitions, each a map task of the
    next exchange.  An empty frame keeps its zero partitions, so the
    optimizer can still fold it away as an empty relation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    df = spark.createDataFrame(table, schema)
    return df.coalesce(1) if table.num_rows > 1 else df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register each table as a temp view (the SQL surface the
    reference exposes via registerTempTable, MockData.java:104)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
