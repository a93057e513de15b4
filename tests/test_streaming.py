from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from analysisofuserbehavior_spark.streaming.ad_stream import (
    BlacklistLoop,
    hourly_click_counts,
    read_event_stream,
    run_to_completion,
    sliding_click_trend,
)

SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _nanos(dt: datetime) -> int:
    return int(dt.timestamp() * 1_000_000) * 1000


def _write_batches(spark, tmpdir: str, batches):
    d = os.path.join(tmpdir, "in")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    return d


def test_hourly_counts_streaming_equals_batch(spark, tmp_path):
    rows = [
        (1, (datetime(2024, 1, 1, 10, 5)), 1, "click", 0.0, '{"k": 3}'),
        (2, (datetime(2024, 1, 1, 10, 55)), 2, "click", 0.0, '{"k": 3}'),
        (3, (datetime(2024, 1, 1, 11, 5)), 1, "click", 0.0, '{"k": 3}'),
        (4, (datetime(2024, 1, 1, 11, 6)), 1, "view", 0.0, '{"k": 3}'),
    ]
    d = _write_batches(spark, str(tmp_path), [rows])
    out = run_to_completion(
        hourly_click_counts(read_event_stream(spark, d)), "t_hourly"
    ).collect()
    got = {(r["hour_start"], r["ad_id"]): r["click_count"] for r in out}
    assert got == {
        ("2024-01-01 10:00:00", 3): 2,
        ("2024-01-01 11:00:00", 3): 1,
    }


def test_sliding_window_counts_overlap(spark, tmp_path):
    rows = [
        (1, (datetime(2024, 1, 1, 10, 5)), 1, "click", 0.0, '{"k": 1}'),
    ]
    d = _write_batches(spark, str(tmp_path), [rows])
    out = run_to_completion(
        sliding_click_trend(read_event_stream(spark, d)), "t_sliding"
    ).collect()
    # a single event at 10:05 falls into 6 sliding 60-min windows
    # (10-min slide): starts 09:10..10:00
    assert len(out) == 6
    assert all(r["click_count"] == 1 for r in out)


def test_blacklist_feedback_loop_across_batches(spark, tmp_path):
    """Batch 1 pushes user 1 over the threshold; batch 2's clicks
    from user 1 must be anti-joined away BEFORE counting (the
    reference's batch-N+1 filter, AdClickRealTimeStatSpark.java:248-313)."""
    b1 = [
        (1, (datetime(2024, 1, 1, 10, 0)), 1, "click", 0.0, '{"k": 1}'),
        (2, (datetime(2024, 1, 1, 10, 1)), 1, "click", 0.0, '{"k": 1}'),
        (3, (datetime(2024, 1, 1, 10, 2)), 2, "click", 0.0, '{"k": 1}'),
    ]
    b2 = [
        (4, (datetime(2024, 1, 1, 10, 9)), 1, "click", 0.0, '{"k": 1}'),
        (5, (datetime(2024, 1, 1, 10, 10)), 2, "click", 0.0, '{"k": 1}'),
    ]
    in_dir = _write_batches(spark, str(tmp_path), [b1, b2])
    loop = BlacklistLoop(os.path.join(str(tmp_path), "state"), threshold=2)
    stream = read_event_stream(spark, in_dir, max_files_per_trigger=1)
    loop.run(stream, os.path.join(str(tmp_path), "ckpt"))

    blacklist = {r["user_id"] for r in loop.current_blacklist(spark).collect()}
    assert blacklist == {1, 2}  # user 2 reaches 2 clicks via batch 2
    counts = (
        loop.current_totals(spark)
        .groupBy("user_id")
        .agg(F.sum("click_count").alias("c"))
        .collect()
    )
    got = {r["user_id"]: r["c"] for r in counts}
    # user 1 blacklisted after batch 1 → batch 2 click dropped
    assert got[1] == 2
    assert got[2] == 2
    # compacted state: one row per (day, user_id, ad_id), regardless
    # of how many batches contributed — per-batch work is O(keys),
    # not O(stream history)
    state = spark.read.parquet(loop.table_dir)
    assert state.count() == state.select("day", "user_id", "ad_id").distinct().count()


def test_blacklist_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the same epoch
    must not double-count clicks toward the blacklist threshold."""
    rows = [
        (1, (datetime(2024, 1, 1, 10, 0)), 7, "click", 0.0, '{"k": 1}'),
    ]
    batch = (
        spark.createDataFrame(rows, SCHEMA)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("ad_id", F.get_json_object("props", "$.k").cast("long") % 10)
    )
    loop = BlacklistLoop(os.path.join(str(tmp_path), "state"), threshold=2)
    loop.process_batch(batch, epoch_id=0)
    loop.process_batch(batch, epoch_id=0)  # replay of the same epoch
    totals = loop.current_totals(spark).collect()
    assert len(totals) == 1 and totals[0]["click_count"] == 1
    assert loop.current_blacklist(spark).count() == 0  # still under threshold
    loop.process_batch(batch, epoch_id=1)  # genuinely new epoch counts
    assert loop.current_totals(spark).collect()[0]["click_count"] == 2
    assert {r["user_id"] for r in loop.current_blacklist(spark).collect()} == {7}


def test_blacklist_crash_after_stage_recovers_on_replay(spark, tmp_path):
    """The blacklist fold shares the staged-state protocol's crash
    hook: epoch 1 raises AFTER its totals are committed to `_next` but
    BEFORE the promote, and the at-least-once replay of epoch 1 must
    leave the same totals and blacklist as an uninterrupted run."""
    import pytest

    def batch(rows):
        return (
            spark.createDataFrame(rows, SCHEMA)
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .withColumn("ad_id", F.get_json_object("props", "$.k").cast("long") % 10)
        )

    t = datetime(2024, 1, 1, 10, 0)
    b0 = batch(
        [
            (1, t, 1, "click", 0.0, '{"k": 1}'),
            (2, t, 1, "click", 0.0, '{"k": 1}'),
            (3, t, 2, "click", 0.0, '{"k": 1}'),
        ]
    )
    b1 = batch(
        [
            (4, t, 1, "click", 0.0, '{"k": 1}'),  # user 1 already blacklisted
            (5, t, 2, "click", 0.0, '{"k": 1}'),
            (6, t, 3, "click", 0.0, '{"k": 2}'),
        ]
    )

    def snapshot(loop):
        return (
            sorted(tuple(r) for r in loop.current_totals(spark).collect()),
            sorted(r["user_id"] for r in loop.current_blacklist(spark).collect()),
        )

    clean = BlacklistLoop(os.path.join(str(tmp_path), "clean"), threshold=2)
    clean.process_batch(b0, 0)
    clean.process_batch(b1, 1)

    loop = BlacklistLoop(os.path.join(str(tmp_path), "crash"), threshold=2)
    loop.process_batch(b0, 0)
    loop.fail_after_stage_epoch = 1
    with pytest.raises(RuntimeError, match="injected crash"):
        loop.process_batch(b1, 1)
    assert os.path.exists(os.path.join(loop.table_dir + "_next", "_SUCCESS"))
    assert loop.fail_after_stage_epoch is None  # fires once
    loop.process_batch(b1, 1)  # the replayed epoch after the restart
    assert snapshot(loop) == snapshot(clean)
    assert snapshot(clean)[1] == [1, 2]


def test_province_top3_per_batch_sql(spark, sf_dir, tmp_path):
    """foreachBatch + SQL window top-3 (the transform+SQL pattern);
    per-province ranks capped at 3 with the rank>=3 ref bug fixed,
    over a user dimension materialized once before the stream."""
    import re

    from analysisofuserbehavior_spark.operators import behavior_model as bm
    from analysisofuserbehavior_spark.plans import audit as _audit
    from analysisofuserbehavior_spark.sources import load_table
    from analysisofuserbehavior_spark.streaming.ad_stream import (
        province_top3_per_batch,
        read_event_stream,
    )

    users = bm.user_info(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )
    out = str(tmp_path / "top3_out")
    ckpt = str(tmp_path / "top3_ckpt")
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    _audit.start_micro_batch_plan_capture()
    try:
        province_top3_per_batch(stream, users, out, ckpt)
    finally:
        captured = _audit.stop_micro_batch_plan_capture()
    got = spark.read.parquet(out)
    per_key = got.groupBy("day", "province", "epoch").count().collect()
    assert per_key and all(r["count"] <= 3 for r in per_key)
    # the user dimension is built once at query start: no batch
    # re-scans the customer/nation/region tables
    plans = [plan for tag, plan in captured if tag == "province_top3_batch"]
    assert plans
    for plan in plans:
        assert not re.search(r"FileScan[^\n]*(customer|nation|region)", plan), plan


def test_province_top3_per_batch_replay_overwrites_its_epoch(spark, sf_dir, tmp_path):
    """A batch replayed after a crash between its sink write and its
    commit-log entry rewrites its own epoch instead of adding to it:
    with the checkpoint's last commit deleted, a restart re-runs that
    batch and the output equals the uninterrupted run's."""
    from analysisofuserbehavior_spark.modules import load_users
    from analysisofuserbehavior_spark.sources import load_table
    from analysisofuserbehavior_spark.streaming.ad_stream import province_top3_per_batch

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    for i in range(3):
        events.where(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    users = load_users(spark, sf_dir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        province_top3_per_batch(
            read_event_stream(spark, src, max_files_per_trigger=1), users, out, ckpt
        )
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    clean = run()
    assert {r[-1] for r in clean} == {0, 1, 2}
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    assert run() == clean
    assert os.path.exists(os.path.join(commits, str(last)))  # the batch re-ran


def test_watermark_drops_late_events(spark, tmp_path):
    """An event arriving in a later batch with event-time older than
    the watermark horizon must NOT update its (closed) window in
    append mode — the watermark semantics the reference lacks
    entirely (processing-time DStreams)."""
    import datetime as dt
    import os
    from pyspark.sql import functions as F
    from analysisofuserbehavior_spark.streaming.ad_stream import EVENTS_FILE_SCHEMA

    base = str(tmp_path / "late")

    def write(fname, rows):
        spark.createDataFrame(rows, EVENTS_FILE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(base, fname))

    def ev(eid, hour, minute):
        return (eid, dt.datetime(2024, 1, 1, hour, minute), 1, "click", 1.0, '{"k": 1}')

    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")

    def run_once():
        raw = (
            spark.readStream.schema(EVENTS_FILE_SCHEMA)
            .parquet(base + "/f*")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("w.start", "HH:mm").alias("h"), "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: events up to 12:00 → checkpointed watermark = 11:50
    write("f0", [ev(1, 9, 0), ev(2, 12, 0)])
    run_once()
    # run 2 (same checkpoint): 09:30 arrives — older than the
    # persisted watermark — plus a fresh 12:30 event
    write("f1", [ev(3, 9, 30), ev(4, 12, 30)])
    run_once()
    got = {r["h"]: r["n"] for r in spark.read.parquet(out_dir).collect()}
    # append mode emits only windows the watermark has CLOSED: the
    # 09:00 window closed with 1 event — the late 09:30 arrival was
    # dropped, not merged (it would read 2 otherwise)
    assert got.get("09:00") == 1, got


def test_streaming_late_event_drop_gate_is_hash_sensitive(spark, sf_dir):
    """The gated replay re-sends the corpus's OLDEST event in phase 2,
    after its hour window was emitted and the watermark checkpointed
    past it.  Pin the two ways a wrong engine would change the hash:
    (a) the oldest emitted hour's count equals the plain batch count
    (the duplicate was NOT merged), and (b) no hour appears twice
    (the closed window was NOT re-emitted)."""
    from collections import Counter

    from pyspark.sql import functions as F
    from analysisofuserbehavior_spark.registry import QUERIES
    from analysisofuserbehavior_spark.sources import load_table

    rows = QUERIES["streaming_late_event_drop"](spark, sf_dir).collect()
    hours = Counter(r["hour_start"] for r in rows)
    assert hours and max(hours.values()) == 1, hours.most_common(3)
    oldest = min(hours)
    batch = {
        r["h"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts").cast("timestamp")),
                "yyyy-MM-dd HH:mm",
            ).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_oldest = next(r["n"] for r in rows if r["hour_start"] == oldest)
    assert got_oldest == batch[oldest], (got_oldest, batch[oldest])


def test_run_ad_module_end_to_end(spark, sf_dir, tmp_path):
    """Module-4 runner: all four ad tables materialize over the
    bounded stream, and the stateful running totals agree exactly
    with the batch groupBy count."""
    from pyspark.sql import functions as F
    from analysisofuserbehavior_spark.sources import load_table
    from analysisofuserbehavior_spark.streaming.ad_stream import run_ad_module

    out = run_ad_module(spark, sf_dir, str(tmp_path / "admod"))
    assert set(out) == {"ad_blacklist", "ad_stat", "ad_province_top3", "ad_click_trend"}
    batch = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("ad_id"),
        )
        .agg(F.count(F.lit(1)).alias("click_count"))
    )
    want = {(r["day"], r["ad_id"]): r["click_count"] for r in batch.collect()}
    got = {(r["day"], r["ad_id"]): r["click_count"] for r in out["ad_stat"].collect()}
    assert got == want
    assert out["ad_click_trend"].count() > 0
    assert out["ad_province_top3"].count() > 0


def test_ad_click_wire_format_parse(spark):
    """The reference's space-delimited `timestamp province city
    userid adid` records (epoch millis) parse field-for-field
    (AdClickRealTimeStatSpark.java:322-341) — no broker needed."""
    from analysisofuserbehavior_spark.streaming.ad_stream import parse_ad_click_wire

    ms = int(datetime(2024, 1, 2, 10, 30).timestamp() * 1000)
    raw = spark.createDataFrame(
        [(f"{ms} Hubei Wuhan 42 7",), (f"{ms + 1000} Anhui Hefei 9 3",)],
        "value string",
    )
    rows = sorted(parse_ad_click_wire(raw).collect(), key=lambda r: r["user_id"])
    assert [(r["province"], r["city"], r["user_id"], r["ad_id"]) for r in rows] == [
        ("Anhui", "Hefei", 9, 3),
        ("Hubei", "Wuhan", 42, 7),
    ]
    assert rows[1]["ts"] == datetime(2024, 1, 2, 10, 30)
    assert rows[1]["day"] == "2024-01-02"


def test_event_json_value_parse(spark):
    """from_json over literal Kafka-style values recovers the events
    schema plus the shared derived columns — the parsing half of
    read_kafka_event_stream, exercised without a broker."""
    import json

    from analysisofuserbehavior_spark.streaming.ad_stream import parse_event_json

    ns = _nanos(datetime(2024, 3, 1, 8, 0))
    payload = json.dumps(
        {
            "event_id": 5,
            "ts": ns,
            "user_id": 77,
            "event_type": "click",
            "value": 1.5,
            "props": '{"k": 13}',
        }
    )
    raw = spark.createDataFrame([(payload.encode("utf-8"),)], "value binary")
    r = parse_event_json(raw).collect()[0]
    assert (r["event_id"], r["user_id"], r["event_type"]) == (5, 77, "click")
    assert r["ts"] == datetime(2024, 3, 1, 8, 0)
    assert r["day"] == "2024-03-01"
    assert r["ad_id"] == 3  # 13 % 10
    # malformed value → null-parsed row, not an exception (PERMISSIVE)
    bad = spark.createDataFrame([("not json",)], "value string")
    assert parse_event_json(bad).collect()[0]["event_id"] is None


def test_mock_wire_rows_match_reference_universe(spark):
    """The rate-source generator emits the reference's exact wire
    format over its exact value universe (MockRealTimeData.java:
    12,18-22,42): city always belongs to the picked province, userid
    in [0,1000), adid in [0,10), and the string round-trips through
    parse_ad_click_wire losslessly.  Batch frame stands in for the
    rate-micro-batch source (identical expressions, no stream needed)."""
    from analysisofuserbehavior_spark.streaming.ad_stream import parse_ad_click_wire
    from analysisofuserbehavior_spark.streaming.mockstream import (
        PROVINCE_CITIES,
        ad_click_wire_rows,
    )

    base = datetime(2024, 5, 1, 12, 0)
    raw = spark.createDataFrame(
        [(base, i) for i in range(200)], "timestamp timestamp, value long"
    )
    wire = ad_click_wire_rows(raw)
    assert wire.columns == ["value"]
    parsed = parse_ad_click_wire(wire).collect()
    assert len(parsed) == 200
    seen_provinces = set()
    for r in parsed:
        assert r["city"] in PROVINCE_CITIES[r["province"]]
        assert 0 <= r["user_id"] < 1000
        assert 0 <= r["ad_id"] < 10
        assert r["ts"] == base  # epoch-millis survived the round trip
        seen_provinces.add(r["province"])
    assert len(seen_provinces) == 5  # 200 draws cover the 5-province universe
    # deterministic: same row index -> same wire string
    again = ad_click_wire_rows(raw).collect()
    assert [r["value"] for r in again] == [r["value"] for r in wire.collect()]


def test_mock_micro_batch_stream_runs_and_replays(spark, tmp_path):
    """Drive the rate-micro-batch generator through real streaming
    execution into a memory sink; a fresh-checkpoint rerun yields the
    identical first rows (replayable batches — what at-least-once
    sink tests need)."""
    import time

    from analysisofuserbehavior_spark.streaming.ad_stream import parse_ad_click_wire
    from analysisofuserbehavior_spark.streaming.mockstream import (
        mock_ad_click_micro_batches,
    )

    def first_rows(name):
        stream = parse_ad_click_wire(
            mock_ad_click_micro_batches(spark, rows_per_batch=20, start_ms=0)
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.table(name).count() >= 20:
                    break
                time.sleep(0.2)
        finally:
            q.stop()
        return spark.table(name).orderBy("ts", "user_id").limit(20).collect()

    a = first_rows("t_mock_a")
    b = first_rows("t_mock_b")
    assert len(a) == 20
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert all(r["city"] is not None and r["ad_id"] is not None for r in a)


def test_generator_drives_blacklist_loop_self_contained(spark, tmp_path):
    """Module 4 runs end-to-end with NO file replay: the rate-source
    generator produces the reference wire format, the wire parser
    types it, and the blacklist loop consumes it — the full
    producer → parse → stateful-loop chain of the reference, broker
    excepted, inside one test."""
    import time

    from analysisofuserbehavior_spark.streaming.ad_stream import parse_ad_click_wire
    from analysisofuserbehavior_spark.streaming.mockstream import (
        mock_ad_click_micro_batches,
    )

    stream = parse_ad_click_wire(
        mock_ad_click_micro_batches(spark, rows_per_batch=40, start_ms=0)
    ).withColumn("event_type", F.lit("click"))
    loop = None

    def condition_met() -> bool:
        try:
            return (
                loop.current_totals(spark).count() > 0
                and loop.current_blacklist(spark).count() > 0
            )
        except Exception:
            return False  # state dir mid-swap

    # A busy JVM can occasionally kill the stream-execution thread at
    # startup (observed: transient StackOverflowError mid-suite, never
    # in isolation).  Restart instead of polling a dead query until
    # the deadline — and give each attempt its OWN state dir +
    # checkpoint: the sink's contract is single-writer, and a killed
    # query's zombie task commits may land in the old state dir after
    # a new query has recovered it (observed as a doubled totals
    # table).  A fresh dir per attempt keeps every attempt inside the
    # contract; state durability across RESTARTS of one writer is
    # covered by test_blacklist_replay_is_idempotent.
    for attempt in range(3):
        loop = BlacklistLoop(
            os.path.join(str(tmp_path), f"state{attempt}"), threshold=2
        )
        ckpt = os.path.join(str(tmp_path), f"ckpt{attempt}")
        q = (
            stream.writeStream.foreachBatch(loop.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if condition_met():
                    break
                if q.exception() is not None:
                    break  # stream died — retry with a fresh query
                time.sleep(0.5)
        finally:
            try:
                # stop() on an already-dead query can rethrow its
                # death cause — that must feed the retry, not escape
                # the loop as a test error
                q.stop()
            except Exception:
                pass
            try:
                # join the execution thread so the attempt is fully
                # dead before any retry/assert...
                q.awaitTermination()
            except Exception:
                # ...but a crashed attempt re-raises ITS failure from
                # awaitTermination, and retrying that crash with a
                # fresh query is this loop's whole job
                pass
        if condition_met():
            break
    # q.stop() interrupts the STREAM thread but does not join the
    # py4j callback thread running process_batch — an in-flight
    # batch can still swap the state dir AFTER stop() returns, so
    # two reads below could see different snapshots (the observed
    # solo flake: totals from one batch, blacklist from the next).
    # Quiesce first: wait until two consecutive reads agree.
    prev = None
    rows = []
    for _ in range(60):
        try:
            rows = loop.current_totals(spark).collect()
        except Exception:  # state dir mid-swap
            time.sleep(0.5)
            continue
        sig = sorted(tuple(r) for r in rows)
        if prev is not None and sig == prev:
            break
        prev = sig
        time.sleep(0.5)
    assert len(rows) > 0
    # compacted keyed state, never an append-only history
    keys = [(r["day"], r["user_id"], r["ad_id"]) for r in rows]
    assert len(keys) == len(set(keys))
    # every blacklisted user genuinely crossed the threshold
    over = {r["user_id"] for r in rows if r["click_count"] >= 2}
    bl = {r["user_id"] for r in loop.current_blacklist(spark).collect()}
    assert bl and bl == over


def test_sliding_trend_reference_cadence(spark, tmp_path):
    """slide='10 seconds' (the reference's exact cadence) produces
    360 windows per event and agrees with the 10-minute default on
    every shared window boundary."""
    rows = [
        (1, (datetime(2024, 1, 1, 10, 0, 5)), 1, "click", 0.0, '{"k": 1}'),
    ]
    d = _write_batches(spark, str(tmp_path), [rows])
    fine = run_to_completion(
        sliding_click_trend(read_event_stream(spark, d), slide="10 seconds"),
        "t_slide_fine",
    ).collect()
    assert len(fine) == 360  # 60 min / 10 s overlapping windows
    coarse = run_to_completion(
        sliding_click_trend(read_event_stream(spark, d)), "t_slide_coarse"
    ).collect()
    fine_map = {r["window_start"]: r["click_count"] for r in fine}
    for r in coarse:  # every coarse boundary exists in the fine set
        assert fine_map[r["window_start"]] == r["click_count"]


def test_stream_stream_interval_join_semantics(spark, tmp_path):
    """Click-view attribution over two live streams: only same-user
    views inside the (c_ts - window, c_ts] interval pair up, and the
    executed plan is a StreamingSymmetricHashJoin with keyed state —
    the bounded-memory stream-stream form."""
    from analysisofuserbehavior_spark.streaming.joins import click_view_attribution

    t0 = datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, (t0), 1, "view", 0.0, "{}"),                # 5 min before click
        (2, (datetime(2024, 1, 1, 10, 5)), 1, "click", 0.0, "{}"),
        (3, (datetime(2024, 1, 1, 9, 54)), 1, "view", 0.0, "{}"),  # 11 min: out
        (4, (datetime(2024, 1, 1, 10, 5)), 1, "view", 0.0, "{}"),  # same instant: in
        (5, (t0), 2, "view", 0.0, "{}"),                # other user: out
        (6, (datetime(2024, 1, 1, 10, 6)), 1, "view", 0.0, "{}"),  # after: out
    ]
    d = _write_batches(spark, str(tmp_path), [rows])
    stream = read_event_stream(spark, d)
    joined = click_view_attribution(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "view"),
        attribution="10 minutes",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_attrib")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["click_id"], r["view_id"]): r["gap_s"]
        for r in spark.table("t_attrib").collect()
    }
    assert got == {(2, 1): 300, (2, 4): 0}
    progress = q.lastProgress
    assert progress["stateOperators"], "join kept no state store"
    op = progress["stateOperators"][0]
    assert "symmetricHashJoin" in op["operatorName"], op["operatorName"]


def test_dropduplicates_state_survives_micro_batches(spark, tmp_path):
    """`dropDuplicates` (no watermark) must suppress keys first seen
    in an EARLIER micro-batch — the mechanism behind the gated
    streaming_dedup_keys query.  Batch 2 replays batch 1's key; the
    append-mode sink must hold each key exactly once."""
    import os

    base = str(tmp_path / "sdk")
    batches = [
        [(1, "click"), (1, "view"), (1, "click")],  # in-batch dup too
        [(1, "click"), (2, "click")],  # (1, click) is a cross-batch dup
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, f"b{i}"))
        os.utime(os.path.join(base, f"b{i}"), (1_000_000 + i, 1_000_000 + i))
    raw = (
        spark.readStream.schema("user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/b*")
    )
    q = (
        raw.dropDuplicates(["user_id", "event_type"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sdk_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    got = sorted(
        (r["user_id"], r["event_type"]) for r in spark.table("sdk_test").collect()
    )
    assert got == [(1, "click"), (1, "view"), (2, "click")]
    assert n_batches >= 2  # the suppression really spanned micro-batches


def test_stateful_dedup_runs_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB streaming-state lever: HDFS-backed in-memory state
    caps at executor heap, RocksDB spills keyed state to local disk.
    The same dropDuplicates pipeline must produce identical results
    under spark.sql.streaming.stateStore.providerClass=RocksDB."""
    import os

    base = str(tmp_path / "rocks")
    for i, rows in enumerate([[(1, "a"), (2, "a")], [(1, "a"), (3, "b")]]):
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, f"b{i}"))
        os.utime(os.path.join(base, f"b{i}"), (2_000_000 + i, 2_000_000 + i))
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        raw = (
            spark.readStream.schema("user_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(base + "/b*")
        )
        q = (
            raw.dropDuplicates(["user_id", "event_type"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("rocks_dedup")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r["user_id"], r["event_type"])
            for r in spark.table("rocks_dedup").collect()
        )
        assert got == [(1, "a"), (2, "a"), (3, "b")]
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_append_eviction_inclusive_at_exact_watermark_boundary(spark, tmp_path):
    """Round-6 ADVICE: streaming_late_event_drop's oracle emits
    windows with end <= final watermark; if max(ts) lands EXACTLY on
    an hour boundary, the last emitted window's end EQUALS the
    watermark, and a strict-vs-inclusive eviction disagreement would
    flip one row.  Pin the boundary empirically: max ts 13:00 sharp →
    watermark 12:00 → the [11:00,12:00) window (end == watermark)
    MUST be append-emitted, the [13:00,14:00) window must not."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 10, 0)),
        (2, datetime(2024, 1, 1, 10, 30)),
        (3, datetime(2024, 1, 1, 11, 15)),
        (4, datetime(2024, 1, 1, 13, 0)),  # max EXACTLY on the hour
    ]
    d = str(tmp_path / "in")
    spark.createDataFrame(rows, "event_id long, ts timestamp").coalesce(
        1
    ).write.parquet(d)
    raw = spark.readStream.schema("event_id long, ts timestamp").parquet(d)
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("h"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_boundary")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r["h"], r["n"]) for r in spark.table("wm_boundary").collect())
    assert got == [("10:00", 2), ("11:00", 1)], got
