"""Input-sized width (session.input_bytes / input_width): a checkpoint
build or a bounded stream whose input fills fewer partitions than the
session width runs at that width — a checkpoint also planned
statically, AQE off — and an unknown input keeps today's scope."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from analysisofuserbehavior_spark import session as S
from analysisofuserbehavior_spark.functions.ckpt import ckpt
from analysisofuserbehavior_spark.functions.iterate import iterate
from analysisofuserbehavior_spark.modules import load_users
from analysisofuserbehavior_spark.sources import load_table
from analysisofuserbehavior_spark.streaming.ad_stream import run_bounded, run_to_completion
from analysisofuserbehavior_spark.streaming.mockstream import mock_ad_click_micro_batches

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _per_user(spark, sf_dir):
    return load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )


def _construction_jobs(spark, build) -> tuple[object, int]:
    """(build(), jobs it launched) — counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"width_{time.monotonic_ns()}"
    sc.setJobGroup(group, "construction")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(("eager", "jobs"), [(False, 0), (True, 1)])
def test_small_checkpoint_is_planned_statically(spark, sf_dir, eager, jobs):
    """A few-KB groupBy checkpoints at one partition with AQE off: a
    lazy build runs no job (under AQE its shuffle would run at
    construction) and an eager one runs exactly one.  The rows equal a
    session-width build's — forced by an advisory size of one byte,
    which sizes the same input at the session width."""
    before = {k: spark.conf.get(k) for k in (AQE, PARTS)}
    df = _per_user(spark, sf_dir)
    small, n = _construction_jobs(spark, lambda: ckpt(df, eager=eager))
    assert n == jobs
    assert small.rdd.getNumPartitions() == 1
    assert {k: spark.conf.get(k) for k in (AQE, PARTS)} == before
    df = _per_user(spark, sf_dir)
    with S.scoped_conf(spark, {ADVISORY: 1}):
        wide, n_wide = _construction_jobs(spark, lambda: ckpt(df, eager=eager))
    assert n_wide > n  # AQE stayed on: the shuffle ran at construction
    assert _rows(small) == _rows(wide)


def test_unknown_leaf_keeps_session_width_and_aqe(spark):
    """A generated range is no file, local relation or checkpoint: its
    checkpoint keeps AQE (the shuffle runs at construction) and its
    size stays unlabelled, so later plans over it stay unknown too."""
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert S.input_bytes(df) is None
    out, n = _construction_jobs(spark, lambda: ckpt(df))
    assert n >= 1
    assert S.input_bytes(out) is None
    assert sorted(r.k for r in out.collect()) == list(range(7))


def test_checkpoint_inside_a_loop_keeps_the_loop_confs(spark, sf_dir):
    """Inside `iterate` AQE is already off, so a round's checkpoint
    neither narrows the loop's width nor sizes its input: the round
    keeps every loop partition although its input fits in one."""
    session = int(spark.conf.get(PARTS))
    assert session > 1

    def step(frame, i):
        return frame.groupBy("user_id").agg(F.sum("n").alias("n"))

    out, _ = iterate(_per_user(spark, sf_dir), step, 1, n_rows=65_536 * session)
    assert out.rdd.getNumPartitions() == session
    assert S.input_bytes(out) is None


def test_confs_come_back_after_a_failed_build(spark, sf_dir):
    """The static build's AQE and width overrides are scoped: a build
    that raises leaves the session's confs as they were."""
    before = {k: spark.conf.get(k) for k in (AQE, PARTS)}
    bad = _per_user(spark, sf_dir).select(
        F.when(F.col("n") > 0, F.raise_error(F.lit("boom"))).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        ckpt(bad, eager=True)
    assert {k: spark.conf.get(k) for k in (AQE, PARTS)} == before


def test_user_dimension_memo_is_sized_by_its_tables(spark, sf_dir):
    """The memo's LogicalRDD reports the optimizer's estimate of the
    three-way join (orders of magnitude above its input); the sizing
    reads its origin instead: the three tables' file bytes."""
    tables = sum(
        os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("customer", "nation", "region")
    )
    users = load_users(spark, sf_dir)
    assert S.input_bytes(users) == tables
    leaf = users._jdf.queryExecution().analyzed().collectLeaves().apply(0)
    assert int(str(leaf.stats().sizeInBytes())) > 100 * tables


class _StateWidths(StreamingQueryListener):
    def __init__(self):
        self.by_name: dict[str, set[int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.by_name.setdefault(p.name, set()).update(
            op.numShufflePartitions for op in p.stateOperators
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, name: str) -> set[int]:
        deadline = time.monotonic() + 30
        while not self.by_name.get(name) and time.monotonic() < deadline:
            time.sleep(0.1)  # the listener bus delivers asynchronously
        return self.by_name.get(name, set())


@pytest.fixture
def state_widths(spark):
    widths = _StateWidths()
    spark.streams.addListener(widths)
    yield widths
    spark.streams.removeListener(widths)


def test_bounded_stream_over_tiny_files_runs_one_partition(spark, tmp_path, state_widths):
    """Two tiny files fill one partition: the stream's state operators
    run at width 1, not min(8, session width), whose every store pays
    a fixed open/commit per micro-batch.  The name filter's other
    file is not counted."""
    src = tmp_path / "src"
    for part in range(2):
        spark.range(part * 5, part * 5 + 5).select(
            F.col("id").alias("user_id"), F.lit(1).alias("n")
        ).write.mode("append").parquet(str(src))
    first = next(f for f in os.listdir(src) if f.startswith("part-"))
    (src / "extra.parquet").write_bytes((src / first).read_bytes())
    stream = (
        spark.readStream.schema("user_id long, n int")
        .option("pathGlobFilter", "part-*")
        .parquet(str(src))
    )
    files = [f for f in os.listdir(src) if f.startswith("part-")]
    assert S.input_bytes(stream) == sum(os.path.getsize(src / f) for f in files)
    out = run_to_completion(
        stream.groupBy("user_id").agg(F.sum("n").alias("total")), "t_width_tiny"
    )
    assert out.count() == 10
    assert state_widths.wait_for("t_width_tiny") == {1}


def test_unknown_stream_source_keeps_todays_width(spark, tmp_path, state_widths):
    """The rate-micro-batch source reads no file: its state keeps
    min(partitions, session width)."""
    stream = mock_ad_click_micro_batches(spark, rows_per_batch=20)
    assert S.input_bytes(stream) is None
    agg = stream.groupBy("value").count()
    run_bounded(
        agg.writeStream.outputMode("update").format("memory").queryName("t_width_rate"),
        spark,
        str(tmp_path / "ckpt"),
        partitions=3,
    )
    assert state_widths.wait_for("t_width_rate") == {min(3, int(spark.conf.get(PARTS)))}
