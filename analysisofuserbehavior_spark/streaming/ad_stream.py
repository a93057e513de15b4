"""Module 4 rebuild on Structured Streaming.

Reference: spark/ad/AdClickRealTimeStatSpark.java:100-992 — DStream
micro-batches (5 s), updateStateByKey running totals, a MySQL-backed
dynamic blacklist loop, per-batch SQL window top-3, and
reduceByKeyAndWindow sliding counts.  The rebuild maps each to the
Structured Streaming equivalent:

| reference                             | rebuild                          |
|---------------------------------------|----------------------------------|
| KafkaUtils.createDirectStream (:127)  | readStream (kafka in prod; file  |
|                                       | source with maxFilesPerTrigger   |
|                                       | for deterministic tests)         |
| 5 s batches (:116)                    | trigger(processingTime/available |
|                                       | Now)                             |
| HDFS checkpoint + HA factory          | option(checkpointLocation) —     |
| (:119-227)                            | built-in recovery                |
| updateStateByKey totals (:620-676)    | streaming groupBy().count() in   |
|                                       | complete/update mode (StateStore)|
| blacklist loop: agg → MySQL → reload  | foreachBatch: anti-join a parquet|
| + leftOuterJoin filter (:234-588)     | blacklist dir, append counts,    |
|                                       | rewrite blacklist (:508 threshold|
|                                       | ≥100 → parameter)                |
| reduceByKeyAndWindow 60min/10s        | window(ts, ...) sliding agg with |
| (:898-935)                            | watermark                        |
| no watermark (processing-time only)   | explicit withWatermark — NEW     |
|                                       | decision; ref never drops late   |
|                                       | data, we default 1 hour          |

The reference parses `timestamp province city userid adid` strings
per record (:322-341); here the stream carries the events schema and
derives the same keys once, with the shared behavior-model columns.
"""

from __future__ import annotations

import os

from ..session import (
    input_bytes,
    input_width,
    scoped_conf,
    streaming_checkpoint_location as _ckpt_loc,
)
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..functions import day_col, json_long
from ..functions.ckpt import ckpt
from ..sources.upsert import StagedStateFold, _load_state

# Kafka JSON wire contract: `ts` travels as epoch-nanos long (the
# producer-side encoding; converted to a timestamp on parse).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # wire: epoch nanos as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# File-source replay contract: the driver parquet layout, where `ts`
# is TIMESTAMP(MICROS) without timezone (timestamp_ntz) — identical
# to what sources/loaders.load_table returns for the batch path.
EVENTS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def parse_event_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse a (binary/string) Kafka value column carrying events-
    schema JSON — ONE from_json per record, then the shared derived
    columns.  Works identically on a stream or a literal batch frame
    (how the unit tests exercise it without a broker)."""
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), EVENTS_SCHEMA).alias("e")
    ).select("e.*")
    return (
        parsed.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        .withColumn("day", day_col("ts"))
        .withColumn("ad_id", json_long("props", "$.k") % 10)
    )


def parse_ad_click_wire(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """The reference's EXACT wire format: a space-delimited string
    `timestamp province city userid adid` with an epoch-millis
    timestamp (AdClickRealTimeStatSpark.java:322-341 — split(" "),
    new Date(Long.valueOf(logSplited[0])), Long userid/adid).
    One split per record, all JVM-side; `day` mirrors the
    reference's yyyyMMdd datekey derivation (ISO-formatted here,
    like every other day column in the engine)."""
    p = F.split(F.col(value_col).cast("string"), " ")
    return raw.select(
        F.timestamp_millis(p.getItem(0).cast("long")).alias("ts"),
        p.getItem(1).alias("province"),
        p.getItem(2).alias("city"),
        p.getItem(3).cast("long").alias("user_id"),
        p.getItem(4).cast("long").alias("ad_id"),
    ).withColumn("day", day_col("ts"))


def read_kafka_event_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source — the production twin of `read_event_stream`
    (ref KafkaUtils.createDirectStream, AdClickRealTimeStatSpark.java:
    127-147).  The reference's payload is the space-delimited wire
    format (see `parse_ad_click_wire`); here the value is JSON in the
    events schema, parsed ONCE with from_json (`parse_event_json`).
    Requires the spark-sql-kafka package on the classpath (not in
    the test container — parsing is unit-tested on literal rows, and
    the file-source twin shares every downstream plan)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_event_json(raw)


def read_kafka_ad_click_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source speaking the reference's OWN wire format —
    byte-compatible with a producer feeding the reference system
    (AdClickRealTimeStatSpark.java:127-147 + :322-341)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_ad_click_wire(raw)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (kafka `readStream.format('kafka')`
    in production — same downstream plan)."""
    reader = spark.readStream.schema(EVENTS_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path.endswith(".parquet"):
        # file source needs a directory; select the one file by glob
        base, fname = os.path.split(path)
        reader = reader.option("pathGlobFilter", fname)
        path = base
    raw = reader.parquet(path)
    return (
        # watermarks/windows require TIMESTAMP, not TIMESTAMP_NTZ;
        # the UTC-pinned session makes the cast identity on wall-clock
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("day", day_col("ts"))
        .withColumn("ad_id", json_long("props", "$.k") % 10)
    )


def hourly_click_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour click counts per ad — the batch-equivalent of
    the per-minute trend at streaming granularity."""
    return (
        stream.where(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("ad_id"))
        .agg(F.count(F.lit(1)).alias("click_count"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "ad_id",
            "click_count",
        )
    )


def sliding_click_trend(
    stream: DataFrame, watermark: str = "1 hour", slide: str = "10 minutes"
) -> DataFrame:
    """The reference's reduceByKeyAndWindow (60 min window / 10 s
    slide keyed by minute, :898-935) as a sliding window agg.  The
    DEFAULT slide is widened to 10 min: a 10 s slide over event-time
    assigns 360 overlapping windows per event — correct but
    pathological in state size; pass slide="10 seconds" for the
    reference's exact cadence when the deployment can afford 36×
    the window state (semantics equality at both slides is
    unit-pinned in tests/test_streaming.py)."""
    return (
        stream.where(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "60 minutes", slide).alias("w"), F.col("ad_id"))
        .agg(F.count(F.lit(1)).alias("click_count"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "ad_id",
            "click_count",
        )
    )


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_bounded(
    writer: DataStreamWriter,
    spark: SparkSession,
    checkpoint_dir: str | None = None,
    *,
    partitions: int | None = 8,
    provider: str | None = None,
    plan_tag: str | None = None,
) -> StreamingQuery:
    """Start `writer` as a bounded (availableNow) query, wait for it to
    finish and return it — the engine's one stream lifecycle.

    Width: shuffle partitions are `min(partitions, session width,
    input width)` for the run, the session width being its
    shuffle.partitions on entry and the input width what the files
    the stream will read (and any batch relation it joins) fill at
    Spark's advisory partition size (`session.input_width`); an
    unknown source — a rate or Kafka stream — leaves
    `min(partitions, session width)`.  Every state-store instance pays
    a fixed ~0.1-0.5 s open/commit per micro-batch regardless of data
    volume, and a symmetric hash join keeps FOUR stores per partition
    (SCALING.md round 14): at a 32-core session's width a
    dimension-sized state pays that floor 32 times per operator per
    batch, and partitions beyond the task slots only add waves of
    it.  The width a stream starts with is what its checkpoint pins
    forever, so raise `partitions` when per-partition state outgrows
    an executor.  Results are partition-invariant.  `partitions=None`
    keeps the session width and derives nothing.

    `provider` ("rocksdb" or a full provider class) pins the
    state-store provider.  Both confs come back on exit, also when the
    query fails (`scoped_conf`).

    `checkpoint_dir` goes through `streaming_checkpoint_location`;
    None starts with no location (a memory sink's temporary one).
    With `plan_tag`, an active plan capture records the LAST
    micro-batch's executed plan, straight from the StreamExecution."""
    key = "spark.sql.shuffle.partitions"
    if partitions is not None:
        derived = input_width(spark, input_bytes(writer._df))  # noqa: SLF001
        partitions = min(partitions, derived or int(spark.conf.get(key)))
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", _ckpt_loc(spark, checkpoint_dir))
    with scoped_conf(
        spark,
        {
            key: partitions,
            "spark.sql.streaming.stateStore.providerClass": (
                _ROCKSDB_PROVIDER if provider == "rocksdb" else provider
            ),
        },
    ):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    from ..plans import audit as _audit

    if plan_tag is not None and _audit.capture_active():
        _audit.observe_micro_batch_plan(
            plan_tag,
            _audit.physical_section(q._jsq.explainInternal(True)),  # noqa: SLF001
        )
    return q


def run_to_completion(
    agg: DataFrame,
    query_name: str,
    mode: str = "complete",
    state_provider: str | None = None,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Drive a bounded stream to completion into a memory sink through
    `run_bounded` and return the final result as a batch DataFrame;
    the last micro-batch's plan is captured under `query_name`.

    `state_provider` ("rocksdb" or a full provider class) pins the
    state-store provider for THIS query and asserts from the finished
    query's progress that the stateful operators really executed on
    it — the 100 TB shape, where HDFS-backed in-memory state caps at
    executor heap and RocksDB spills keyed state to local disk.
    RocksDB runs WITHOUT changelog checkpointing (Spark 4.1's default,
    `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.
    enabled` = false): every commit uploads a snapshot.  Measured on
    the running totals over four sf0.1 day files (`local[4]`, six
    alternating runs a side), enabling it cut batch 0's state commit,
    summed over stores, from 140-500 to 67-122 ms at 4 partitions and
    from 21-70 to 10-18 ms at the input-sized width of 1, but left the
    batch's trigger time flat (205-283 vs 189-341 ms at 4 partitions).

    `state_partitions` is `run_bounded`'s width: capped at the session
    width and the input width, None keeps the session's width."""
    spark = agg.sparkSession
    q = run_bounded(
        agg.writeStream.outputMode(mode).format("memory").queryName(query_name),
        spark,
        partitions=state_partitions,
        provider=state_provider,
        plan_tag=query_name,
    )
    if state_provider and "rocksdb" in state_provider.lower():
        import json

        progresses = [
            json.loads(p if isinstance(p, str) else p.json)
            for p in q.recentProgress
        ]
        state_ops = [op for p in progresses for op in p.get("stateOperators", [])]
        assert state_ops and any(
            any("rocksdb" in k.lower() for k in op.get("customMetrics", {}))
            for op in state_ops
        ), "query did not execute on the RocksDB state store"
    return spark.table(query_name)


def province_top3_per_batch(
    stream: DataFrame, users: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Per-micro-batch SQL window top-3 — the reference's
    transform+SQL-inside-stream pattern (AdClickRealTimeStatSpark.
    java:739-845: per-batch RDD→DF→registerTempTable→window SQL;
    its `WHERE rank>=3` bug (:840) fixed to `<=3`).  foreachBatch
    receives a BATCH DataFrame, so the full SQL surface (window
    functions included) applies.  Each epoch overwrites its own
    `out_dir/epoch=<id>` partition, so a batch replayed after a crash
    between the sink write and the commit-log entry replaces its
    first write instead of adding to it; reading `out_dir` yields
    the `epoch` column by partition discovery.

    The user dimension is a SNAPSHOT taken at query start: it is
    materialized once (`ckpt(..., eager=True)`) before the stream
    starts, and every batch broadcasts those blocks instead of
    re-deriving the customer ⋈ nation ⋈ region chain (three serial
    broadcast jobs per batch).  A caller that needs dimension changes
    to show up restarts the query.  Under SPARK_GRAFT_PAIR_CKPT=
    reliable the session needs a checkpoint dir, as at every `ckpt`
    site.

    The query starts through `run_bounded` at the session width
    (`partitions=None`): it keeps no state, and each batch's window
    SQL shuffles at the width the caller's session sets."""
    udim = ckpt(
        users.select("user_id", F.col("area").alias("province")), eager=True
    )

    def run_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        batch.join(F.broadcast(udim), "user_id").createOrReplaceTempView("_batch_clicks")
        top3 = spark.sql(
            """
            SELECT day, province, ad_id, click_count FROM (
              SELECT day, province, ad_id, count(*) AS click_count,
                     row_number() OVER (PARTITION BY day, province
                                        ORDER BY count(*) DESC, ad_id) AS rn
              FROM _batch_clicks
              WHERE event_type = 'click'
              GROUP BY day, province, ad_id
            ) WHERE rn <= 3
            """
        )
        from ..plans import audit as _audit

        _audit.observe_micro_batch_frame("province_top3_batch", top3)
        top3.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    run_bounded(
        stream.writeStream.foreachBatch(run_batch),
        stream.sparkSession,
        checkpoint_dir,
        partitions=None,
    )


class BlacklistLoop(StagedStateFold):
    """The dynamic-blacklist feedback loop (ref :234-588) on
    foreachBatch: batch N's aggregated counts fold into a COMPACTED
    keyed state table (one row per (day, user_id, ad_id)); users
    crossing `threshold` total clicks/ad/day join the blacklist;
    batch N+1 is anti-joined against the blacklist BEFORE counting.
    Exactly the reference's MySQL round-trip, minus the per-record
    SELECTs (dao/impl/AdUserClickCountImpl.java:49-78 queries MySQL
    once per record inside foreachPartition).

    Scale + delivery semantics:

    - Per-batch work is O(distinct keys + batch), NOT O(stream
      history): the state dir always holds the compacted totals, so
      each batch reads |keys| rows, unions the batch's clean click
      rows, and aggregates once.  (The previous design appended raw
      per-batch counts and re-aggregated the whole append-only dir
      every batch — O(history) on a long-lived stream.)
    - The durable protocol is `sources.upsert.StagedStateFold`'s:
      every state row carries `applied_epoch`, written atomically
      WITH the totals, so a replayed epoch is skipped, and a crash
      between staging and promote recovers on the next load
      (`sources.upsert._load_state`).  The blacklist is DERIVED from
      the totals on read, so there is no second state dir that could
      diverge from the counts under a mid-commit crash.
    - The two-step overwrite (stage, then promote) stands in for a
      transactional MERGE; a production sink would MERGE into
      Delta/Iceberg, touching only files for the batch's days.
    - SINGLE-WRITER contract (same as every foreachBatch sink
      without a table-format lock service): one live query owns a
      state dir at a time.  Crash-and-RESTART of that writer is safe;
      two OVERLAPPING queries are not — a killed query's zombie task
      commits can land in the dir after a successor recovered it.
      Delta/Iceberg close that last gap with optimistic-concurrency
      commits.
    """

    _PLAN_TAG = "blacklist_loop_totals"
    _STATE_SCHEMA = (
        "day string, user_id long, ad_id long, "
        "click_count long, applied_epoch long"
    )

    def __init__(self, state_dir: str, threshold: int = 2):
        self.table_dir = os.path.join(state_dir, "totals")
        self.threshold = threshold

    def _state_schema(self, batch_df: DataFrame) -> str:
        return self._STATE_SCHEMA

    def _blacklisted(self, totals: DataFrame) -> DataFrame:
        """user_id of every totals row at or over the threshold, one
        row per such (day, user, ad) key."""
        return totals.where(F.col("click_count") >= self.threshold).select("user_id")

    def current_totals(self, spark: SparkSession) -> DataFrame:
        state, _ = _load_state(spark, self._STATE_SCHEMA, self.table_dir)
        return state.select("day", "user_id", "ad_id", "click_count")

    def current_blacklist(self, spark: SparkSession) -> DataFrame:
        return self._blacklisted(self.current_totals(spark)).distinct()

    def _merge(self, state: DataFrame, batch_df: DataFrame) -> DataFrame:
        """One aggregate per fold: the batch's clean click rows, each a
        BIGINT `click_count` of 1, are summed into the state in the
        same groupBy that re-compacts it (exact integer sums, so the
        totals equal counting the delta first).  The anti-join needs
        no `distinct`: duplicate blacklist keys drop the same rows."""
        keys = ("day", "user_id", "ad_id")
        clean = (
            batch_df.where(F.col("event_type") == "click")
            .join(F.broadcast(self._blacklisted(state)), "user_id", "left_anti")
            .select(*keys, F.lit(1).cast("long").alias("click_count"))
        )
        return (
            state.select(*keys, "click_count")
            .unionByName(clean)
            .groupBy(*keys)
            .agg(F.sum("click_count").alias("click_count"))
        )

    # `run` resolves this attribute per call, so a caller may wrap it
    process_batch = StagedStateFold.__call__

    def run(self, stream: DataFrame, checkpoint_dir: str) -> None:
        """Fold `stream` to completion through `run_bounded`.  The
        per-batch delta/totals aggregates run over dimension-sized
        state: at the session's core-count width each batch paid 32
        near-empty tasks per aggregate (profiled via
        ad_blacklist_feedback: 32-task stages at < 0.4 s total CPU),
        so it runs at `run_bounded`'s default width, the minimum of 8,
        the session width and the width its input files fill."""
        run_bounded(
            stream.writeStream.foreachBatch(self.process_batch),
            stream.sparkSession,
            checkpoint_dir,
        )


def run_ad_module(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    blacklist_threshold: int = 2,
) -> dict[str, DataFrame]:
    """Module 4 end-to-end over the bounded event stream — the
    streaming counterpart of modules.run_task: the dynamic-blacklist
    feedback loop, the updateStateByKey-style running totals (a JVM
    streaming count, no Python worker), the per-batch SQL province
    top-3, and the sliding trend, each driven to completion.  Returns
    the final result tables keyed like the reference's MySQL sinks
    (§1.3)."""
    import os as _os

    from ..modules import load_users
    from .stateful import final_totals, running_click_totals

    users = load_users(spark, sf_dir)
    path = f"{sf_dir}/events.parquet"
    tag = sf_dir.strip("/").split("/")[-1].replace(".", "_")

    loop = BlacklistLoop(_os.path.join(work_dir, "bl_state"), blacklist_threshold)
    loop.run(read_event_stream(spark, path), _os.path.join(work_dir, "bl_ckpt"))

    totals = final_totals(
        run_to_completion(
            running_click_totals(read_event_stream(spark, path)),
            f"admod_totals_{tag}",
            mode="update",
        )
    )
    top3_dir = _os.path.join(work_dir, "top3")
    province_top3_per_batch(
        read_event_stream(spark, path),
        users,
        top3_dir,
        _os.path.join(work_dir, "top3_ckpt"),
    )
    trend = run_to_completion(
        sliding_click_trend(read_event_stream(spark, path)),
        f"admod_trend_{tag}",
    )
    return {
        "ad_blacklist": loop.current_blacklist(spark),
        "ad_stat": totals,
        "ad_province_top3": spark.read.parquet(top3_dir),
        "ad_click_trend": trend,
    }
