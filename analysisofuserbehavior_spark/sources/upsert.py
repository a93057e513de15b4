"""Staged-state folds for foreachBatch streams, and the JDBC MERGE sink.

The reference keeps module 4's state in MySQL with row-at-a-time
select-then-upsert DAOs run inside foreachPartition:
`dao/impl/AdUserClickCountImpl.java:14-78` keeps a running per-key
click count (UPDATE count = count + delta / INSERT),
`dao/impl/AdStatImpl.java:15-97` replaces the row for a key
(insert-or-update; its UPDATE SQL is a latent reference bug), and the
blacklist round-trips through the same tables
(`AdClickRealTimeStatSpark.java:234-588`).

Rebuild: ONE durable protocol, `StagedStateFold`, and three merge
steps on it.  Every fold keeps a compacted parquet state whose rows
carry `applied_epoch`; per micro-batch it loads and recovers the
state (`_load_state`), skips an epoch already applied, stages the
merged state to `<dir>_next` and promotes it over `<dir>`
(`_promote_state`), so at-least-once replays are idempotent and a
crash at any point between the two writes converges on restart.
The merge steps:

- `ParquetUpsertSink` — keyed MERGE: `merge="sum"` accumulates the
  value columns (AdUserClickCountImpl semantics), `merge="replace"`
  overwrites them (AdStatImpl semantics).  On a cluster the same
  sink maps 1:1 onto `MERGE INTO` over Delta/Iceberg, which touches
  only the files holding matched keys; the parquet twin rewrites the
  compacted table (fine for dimension-sized results like the
  reference's MySQL tables, which is exactly what these sinks feed).
- `Scd2Sink` — the latest CDC row per key (`max_by`), folded into a
  versioned history by `operators.scd.scd2_apply`.
- `streaming.ad_stream.BlacklistLoop` — the batch anti-joined against
  the blacklist derived from the loaded totals, and its click rows
  summed into the totals per (day, user, ad) in one aggregate.

`jdbc_upsert_foreach_batch` is the production JDBC path: stage the
micro-batch with a batched write, then issue one set-oriented MERGE
(generated by `build_merge_sql`, unit-tested).  The package ships no
JDBC driver jar, so the statement runner is injectable; the default
runner uses the JVM's DriverManager.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .jdbc import write_jdbc
from .loaders import local_frame


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path` — works for any scheme the
    cluster knows (file://, hdfs://, s3a://), not just the local FS."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001 - py4j bridge is the API here
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def _committed(spark: SparkSession, path: str) -> tuple[bool, bool]:
    """(dir exists, dir holds a fully committed write i.e. _SUCCESS)."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return False, False
    _, marker = _fs_path(spark, path.rstrip("/") + "/_SUCCESS")
    return True, fs.exists(marker)


# file count for staged state writes: the states these folds manage
# are COMPACTED keyed totals (one row per key tuple), dimension-sized
# by construction, so a handful of files is the right shape — 32
# shuffle-partition files of a few KB each cost more in commit
# protocol, footer reads and the driver-side promote than the data
# itself (raise it for genuinely large dimensions)
_STATE_FILES = 4


def _promote_state(spark: SparkSession, table_dir: str) -> None:
    """Finalize the stage-then-finalize protocol: make `<dir>` a
    committed copy of `<dir>_next` WITHOUT a second Spark job.

    Driver-side Hadoop-FS file copy — data files first, the
    `_SUCCESS` commit marker strictly LAST, so `_committed()` can
    never observe a "committed" main dir with partial data.  A crash
    anywhere mid-promote leaves `<dir>` uncommitted while `<dir>_next`
    is committed: exactly the window `_load_state` already recovers.
    This is the same O(files) driver-side commit a table format
    performs at manifest-swap time; the state dirs hold compacted
    keyed totals (dimension-sized), so the file count is small.  The
    previous finalize re-read and re-wrote the whole state through a
    Spark job per micro-batch — ~0.5 s of pure scheduler overhead per
    batch at any scale, and O(state) executor IO besides."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001 - py4j bridge is the API here
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    fs, main = _fs_path(spark, table_dir)
    _, nxt = _fs_path(spark, table_dir + "_next")
    _, tmp = _fs_path(spark, table_dir + "_promote")
    file_util = jvm.org.apache.hadoop.fs.FileUtil
    # one JVM-side recursive copy into a temp dir, then an atomic
    # rename over the main dir: the main dir flips from committed to
    # committed in a single metadata op, and any crash before the
    # rename leaves main untouched (or deleted-but-absent, which
    # recovery rebuilds from the committed _next)
    fs.delete(tmp, True)
    file_util.copy(fs, nxt, fs, tmp, False, conf)
    fs.delete(main, True)
    if not fs.rename(tmp, main):
        raise RuntimeError(f"state promote rename failed: {tmp} -> {main}")


def _footer_max_epoch(path: str) -> int | None:
    """max(applied_epoch) for a committed state dir, read from the
    parquet FOOTER column statistics on the driver — the same
    metadata-only read Spark's own parquet aggregate pushdown does.
    Returns the epoch (or -1 for a committed-but-empty dir); returns
    None to signal "can't answer from footers" (non-local scheme,
    missing statistics, schema drift) so the caller falls back to a
    Spark job.  The state dirs are a handful of files by construction
    (_STATE_FILES), so this is O(files) driver-side ms."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    local = parsed.path if parsed.scheme == "file" else path
    import glob as _glob
    import os as _os

    try:
        import pyarrow.parquet as _pq

        best = -1
        for f in _glob.glob(_os.path.join(local, "*.parquet")):
            pf = _pq.ParquetFile(f)
            names = pf.schema_arrow.names
            if "applied_epoch" not in names:
                return None
            ci = names.index("applied_epoch")
            for rg in range(pf.metadata.num_row_groups):
                grp = pf.metadata.row_group(rg)
                if grp.num_rows == 0:
                    continue
                stats = grp.column(ci).statistics
                if stats is None or not stats.has_min_max:
                    return None
                best = max(best, stats.max)
        return best
    except Exception:  # noqa: BLE001 - any footer surprise → Spark path
        return None


def _load_state(
    spark: SparkSession, schema: T.StructType | str, table_dir: str
) -> tuple[DataFrame, int | None]:
    """Crash-safe state read for the staged-state folds: (state,
    max(applied_epoch) of that state, None when it holds no epoch).

    Distinguishes 'no table yet' (→ empty state) from a FAILED read
    (half-written overwrite, corrupt files): only a directory that is
    genuinely absent initializes empty; anything else must resolve to
    a committed copy or the sink raises instead of silently wiping
    history.  The write protocol is stage-then-finalize (write
    `<dir>_next`, then promote it over `<dir>`), so a crash between
    the two leaves `<dir>` stale or uncommitted but `<dir>_next`
    committed — recover from whichever committed dir carries the
    higher applied_epoch (equal after a clean finalize).  Recovery
    COMPLETES the interrupted finalize before returning, so the
    caller's later overwrite of `<dir>_next` never clobbers the very
    files its state scan is reading.  The epoch comes from this
    arbitration (parquet footers on local schemes), so a fold pays
    no second aggregation job for it."""
    epochs: dict[str, int] = {}
    uncommitted: list[str] = []
    next_dir = table_dir + "_next"
    for path in (table_dir, next_dir):
        exists, ok = _committed(spark, path)
        if not exists:
            continue
        if not ok:
            uncommitted.append(path)
            continue
        # metadata-only footer read when the scheme allows; a Spark
        # max() job only as the fallback
        epoch = _footer_max_epoch(path)
        if epoch is None:
            val = (
                spark.read.schema(schema)
                .parquet(path)
                .agg(F.max("applied_epoch"))
                .first()[0]
            )
            epoch = -1 if val is None else val
        epochs[path] = epoch
    if epochs:
        if next_dir in epochs and epochs[next_dir] > epochs.get(table_dir, -(2**62)):
            # crash landed between staging and finalize: finish the
            # finalize so table_dir is whole again, then read it
            _promote_state(spark, table_dir)
            resolved = epochs[next_dir]
        else:
            resolved = epochs[table_dir]
        return (
            spark.read.schema(schema).parquet(table_dir),
            None if resolved < 0 else resolved,
        )
    if table_dir in uncommitted:
        # a dir with NO files at all (deployment tooling mkdir -p'd
        # the path) has no history to lose — treat as first batch;
        # only a dir holding actual content without _SUCCESS is a
        # half-written table worth refusing
        fs, jpath = _fs_path(spark, table_dir)
        if fs.listStatus(jpath):
            raise RuntimeError(
                f"upsert state at {table_dir} exists without a _SUCCESS marker "
                "and no committed copy is available — refusing to reinitialize "
                "(that would silently discard merged history); inspect/remove "
                "the directory to reset deliberately"
            )
    # only the _next STAGING dir is uncommitted (or nothing exists):
    # the very first batch crashed mid-staging write — no durable
    # history exists yet, so an empty state loses nothing and lets
    # the replayed epoch 0 recover without operator intervention.
    # The empty seed is a local relation with the declared schema, so
    # the optimizer folds it out of the first batch's union.
    return local_frame(spark, [], schema), None


class StagedStateFold:
    """The durable protocol every foreachBatch state fold shares (see
    the module docstring).  A subclass sets `table_dir` and
    `_PLAN_TAG` and supplies only its state schema,
    `_state_schema(batch)`, and its merge step, `_merge(state,
    batch)` → the merged state without `applied_epoch`.  Use an
    instance as `stream.writeStream.foreachBatch(fold)`.
    """

    table_dir: str
    _PLAN_TAG: str
    # fault injection: when set to an epoch id, the fold raises ONCE
    # after staging that epoch's merge to `<dir>_next` but BEFORE
    # finalizing `<dir>` — the exact window the stage-then-finalize
    # recovery protocol exists for.  The gated crash-recovery replays
    # (registry `streaming_upsert_crash_recovery` and
    # `streaming_scd2_crash_recovery`) oracle-check recovery with it,
    # the way real storage engines expose crash points for fault
    # tests.  None (default) = never fires.
    fail_after_stage_epoch: int | None = None

    def _state_schema(self, batch_df: DataFrame) -> T.StructType | str:
        raise NotImplementedError

    def _merge(self, state: DataFrame, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        state, applied = _load_state(
            spark, self._state_schema(batch_df), self.table_dir
        )
        if applied is not None and epoch_id <= applied:
            return  # at-least-once replay of an already-merged epoch
        merged = self._merge(state, batch_df).withColumn(
            "applied_epoch", F.lit(epoch_id).cast("long")
        )
        from ..plans import audit as _audit

        _audit.observe_micro_batch_frame(self._PLAN_TAG, merged)
        merged.coalesce(_STATE_FILES).write.mode("overwrite").parquet(
            self.table_dir + "_next"
        )
        if epoch_id == self.fail_after_stage_epoch:
            self.fail_after_stage_epoch = None  # fire once
            raise RuntimeError(
                f"injected crash: epoch {epoch_id} staged but not finalized"
            )
        _promote_state(spark, self.table_dir)


class ParquetUpsertSink(StagedStateFold):
    """MERGE each micro-batch into a keyed parquet table.

    The batch handed to `__call__` must be key-unique (one row per
    `key_cols` tuple) — the natural shape of an aggregated
    foreachBatch result; duplicates are collapsed defensively.
    """

    _PLAN_TAG = "upsert_sink_merge"

    def __init__(
        self,
        table_dir: str,
        key_cols: list[str],
        value_cols: list[str],
        merge: str = "sum",
    ):
        if merge not in ("sum", "replace"):
            raise ValueError(f"merge must be 'sum' or 'replace', got {merge!r}")
        self.table_dir = table_dir
        self.key_cols = list(key_cols)
        self.value_cols = list(value_cols)
        self.merge = merge

    def _state_schema(self, batch_df: DataFrame) -> T.StructType:
        cols = self.key_cols + self.value_cols
        fields = [batch_df.schema[c] for c in cols]
        return T.StructType(fields + [T.StructField("applied_epoch", T.LongType())])

    def current(self, spark: SparkSession) -> DataFrame:
        """The merged table (without the epoch bookkeeping column)."""
        return spark.read.parquet(self.table_dir).drop("applied_epoch")

    def _merge(self, state: DataFrame, batch_df: DataFrame) -> DataFrame:
        cols = self.key_cols + self.value_cols
        delta = batch_df.select(*cols).dropDuplicates(self.key_cols)
        old = state.select(*cols)
        if self.merge == "sum":
            merged = (
                old.unionByName(delta)
                .groupBy(*self.key_cols)
                .agg(*[F.sum(c).alias(c) for c in self.value_cols])
            )
        else:  # replace: batch wins on matched keys
            merged = delta.unionByName(
                old.join(delta.select(*self.key_cols), self.key_cols, "left_anti")
            )
        return merged.select(*cols)


def build_merge_sql(
    table: str,
    staging: str,
    key_cols: list[str],
    value_cols: list[str],
    merge: str = "sum",
    quote: str = "",
) -> str:
    """One set-oriented MERGE statement per micro-batch — the SQL twin
    of `ParquetUpsertSink` (replaces the reference's per-row
    SELECT/UPDATE/INSERT loops, AdUserClickCountImpl.java:49-78).

    `quote` wraps every COLUMN identifier (e.g. '"' for ANSI engines).
    Spark's JDBC writer emits quoted (case-exact) column names when it
    creates the staging table, so on case-folding engines like Derby
    the MERGE must quote them too or the unquoted reference upcases
    into a miss — create the target table with the same quoting."""
    q = lambda c: f"{quote}{c}{quote}"  # noqa: E731 - tiny local formatter
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
    if merge == "sum":
        sets = ", ".join(f"t.{q(v)} = t.{q(v)} + s.{q(v)}" for v in value_cols)
    else:
        sets = ", ".join(f"t.{q(v)} = s.{q(v)}" for v in value_cols)
    cols = ", ".join(q(c) for c in key_cols + value_cols)
    vals = ", ".join(f"s.{q(c)}" for c in key_cols + value_cols)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def _default_run_sql(spark: SparkSession, url: str, sql: str) -> None:
    """Issue a driver-side statement through the JVM DriverManager
    (requires the JDBC driver jar on the Spark classpath)."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001 - py4j bridge is the API here
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def jdbc_upsert_foreach_batch(
    url: str,
    table: str,
    key_cols: list[str],
    value_cols: list[str],
    merge: str = "sum",
    run_sql: Callable[[SparkSession, str, str], None] | None = None,
    properties: dict[str, str] | None = None,
    quote: str = "",
):
    """foreachBatch sink reproducing the streaming upsert tables
    (ad_stat / ad_user_click_count): stage the micro-batch with one
    batched JDBC write, then MERGE on the key columns.  `run_sql` is
    injectable; the default issues the MERGE via the JVM
    DriverManager (exercised end-to-end against embedded Derby in
    tests/test_jdbc.py).  `properties` reach the staging write —
    pass `createTableColumnTypes` on dialects whose default string
    mapping is a non-comparable LOB (Derby → CLOB)."""
    runner = run_sql or _default_run_sql

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        staging = f"{table}_staging_{epoch_id}"
        write_jdbc(batch_df, url, staging, mode="overwrite", properties=properties)
        runner(
            batch_df.sparkSession,
            url,
            build_merge_sql(table, staging, key_cols, value_cols, merge, quote),
        )

    return sink


class Scd2Sink(StagedStateFold):
    """Maintain an SCD2 dimension-history table from a CDC update
    stream — the streaming twin of `operators.scd.scd2_apply`.

    Each micro-batch carries (key, tracked attrs..., eff); the sink
    folds it into the versioned table with ONE full-outer join
    (closed versions, re-opened versions, inserts — see scd.py), so
    per-batch cost is O(batch + open rows), never a rescan of closed
    history beyond the union-back.  Batches with several updates for
    one key keep the max-`eff` row (`max_by`) — give ties distinct
    `eff` values upstream or the winner is engine-arbitrary.  `eff`
    may be an ISO string, DATE or TIMESTAMP; the validity columns
    take its exact type (scd2_apply casts its open-version null
    marker to the eff type, so the state schema and the merged frame
    always agree)."""

    _PLAN_TAG = "scd2_sink_merge"

    def __init__(
        self,
        table_dir: str,
        key: str,
        tracked: list[str],
        eff_col: str = "eff",
    ):
        self.table_dir = table_dir
        self.key = key
        self.tracked = list(tracked)
        self.eff_col = eff_col

    def _state_schema(self, batch_df: DataFrame) -> T.StructType:
        fields = [batch_df.schema[c] for c in [self.key, *self.tracked]]
        vf = batch_df.schema[self.eff_col].dataType
        return T.StructType(
            fields
            + [
                T.StructField("valid_from", vf),
                T.StructField("valid_to", vf),
                T.StructField("applied_epoch", T.LongType()),
            ]
        )

    def current(self, spark: SparkSession) -> DataFrame:
        """Open versions only (the dimension as of now)."""
        return self.history(spark).where(F.col("valid_to").isNull())

    def history(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.table_dir).drop("applied_epoch")

    def _merge(self, state: DataFrame, batch_df: DataFrame) -> DataFrame:
        from ..operators.scd import scd2_apply

        latest = (
            batch_df.groupBy(self.key)
            .agg(
                F.max(self.eff_col).alias(self.eff_col),
                *[
                    F.expr(f"max_by({c}, {self.eff_col})").alias(c)
                    for c in self.tracked
                ],
            )
        )
        return scd2_apply(
            state.drop("applied_epoch"),
            latest,
            key=self.key,
            tracked=tuple(self.tracked),
            eff_col=self.eff_col,
        )
