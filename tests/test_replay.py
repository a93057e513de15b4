"""The two-phase replay fixture (streaming/replay.py): ordered phase
files with the writer's schema, the crash-then-resume proof, and the
work dir's removal on every exit path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from analysisofuserbehavior_spark.streaming.ad_stream import run_bounded
from analysisofuserbehavior_spark.streaming.replay import two_phase_replay


def _phases(spark):
    ids = spark.range(10).select(
        F.col("id").alias("user_id"), F.lit("click").alias("event_type")
    )
    return [ids.where(F.col("user_id") < 4), ids.where(F.col("user_id") >= 4)]


def test_crash_then_resume_raises_when_the_crash_did_not_fire(spark):
    seen: list[int] = []
    with two_phase_replay(spark, _phases(spark), "t_replay_") as r:
        with pytest.raises(RuntimeError, match="injected crash did not fire"):
            r.run_crash_then_resume(
                lambda: run_bounded(
                    r.stream.writeStream.foreachBatch(lambda b, e: seen.append(e)),
                    spark,
                    r.ckpt,
                ),
                "test recovery window",
            )
    assert seen == [0, 1]  # one micro-batch per phase file, in order


def test_crash_then_resume_replays_the_failed_epoch(spark):
    folded: dict[int, int] = {}

    def sink(batch, epoch_id):
        if epoch_id == 1 and not folded.get(-1):
            folded[-1] = 1  # fail once, mid-stream
            raise RuntimeError("injected")
        folded[epoch_id] = batch.count()

    with two_phase_replay(spark, _phases(spark), "t_replay_") as r:
        r.run_crash_then_resume(
            lambda: run_bounded(r.stream.writeStream.foreachBatch(sink), spark, r.ckpt),
            "test recovery window",
        )
        assert r.rows() == 10
    assert folded == {-1: 1, 0: 4, 1: 6}


def test_work_dir_is_removed_when_the_body_raises(spark):
    phases = _phases(spark)
    with pytest.raises(RuntimeError, match="body failed"):
        with two_phase_replay(spark, phases, "t_replay_") as r:
            work = r.work
            assert sorted(os.listdir(r.in_dir)) == [
                "phase_0.parquet",
                "phase_1.parquet",
            ]
            # the reader carries the writer's column names and types
            assert r.stream.dtypes == phases[0].dtypes
            raise RuntimeError("body failed")
    assert not os.path.exists(work)
