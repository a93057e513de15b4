"""The one driver for every iterative loop: pagerank, BFS and label
propagation (operators/graph.py), k-means (similarity.py), the CC
fixpoint (dedup.py) and BPE (bpe.py) write only their round."""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession

from ..session import scoped_conf
from .ckpt import ckpt


@contextmanager
def loop_scope(spark: SparkSession, n_rows: int) -> Iterator[int]:
    """Scope shuffle width and AQE for a loop over an `n_rows`-row
    working frame; yields the loop's partition count.

    Width is one partition per ~64k rows, capped at the session's
    width: at core-count width a few-thousand-row frame pays rounds x
    shuffles x cores near-empty tasks (the round-8 profile: ~8 s of a
    14 s CC query), while a 10^8-row frame still gets wide shuffles.
    AQE is OFF: adaptive re-planning runs every shuffle as its own
    job, so each round pays extra driver round-trips for a frame whose
    width is already right-sized (profiled 125 jobs / 12.3 s wall on
    embedding_dedup_clusters_lsh at sf0.1).  Both confs come back on
    exit (`scoped_conf`)."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(session_parts, 1 + n_rows // 65_536))
    with scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": loop_parts,
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        yield loop_parts


def iterate(
    state: DataFrame | Callable[[int], DataFrame],
    step: Callable[[DataFrame, int], DataFrame | None],
    rounds: int,
    *,
    n_rows: int,
    changed: Callable[[int], Column] | None = None,
) -> tuple[DataFrame, bool]:
    """Run up to `rounds` rounds of `step(frame, i)` (i from 1) under
    `loop_scope(n_rows)`; returns the last frame and whether the loop
    converged before its budget ran out (only CC treats that as an
    error).  `state` may be a function of the loop width instead, run
    inside the scope (CC co-partitions its join inputs there).

    Each round is truncated through a LAZY `ckpt`: untruncated, the
    plan nests a level per round (a 12-round CC run never finished
    planning).  With `changed`, the round's only action is a full
    count of the rows matching `changed(i)`, and zero converges; the
    checkpoint materializes under that count, so a round is ONE job.
    Not limit(1).count(): its CollectLimit probes one partition, then
    4x more at a job per probe, exactly when changed rows are rare.
    The count and the next round read each frame in turn, so the
    lazy-ckpt broadcast race (functions/ckpt.py) does not apply.  A
    `step` that returns None (BPE's exhausted pair space) stops the
    loop, converged, on the previous frame."""
    spark = SparkSession.active() if callable(state) else state.sparkSession
    with loop_scope(spark, n_rows) as width:
        frame = state(width) if callable(state) else state
        for i in range(1, rounds + 1):
            nxt = step(frame, i)
            if nxt is None:
                return frame, True
            frame = ckpt(nxt)
            if changed is not None and frame.where(changed(i)).count() == 0:
                return frame, True
    return frame, False
