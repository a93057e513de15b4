"""The loop driver (functions/iterate.py): confs come back on every
exit, a `changed` loop stops at its first round without changes, and
a step that returns None ends the loop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from analysisofuserbehavior_spark.functions.iterate import iterate

_KEYS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def test_iterate_restores_loop_confs_when_step_raises(spark):
    before = {k: spark.conf.get(k) for k in _KEYS}
    seen = {}

    def step(frame, i):
        seen.update({k: spark.conf.get(k) for k in _KEYS})
        raise RuntimeError("step failed")

    with pytest.raises(RuntimeError, match="step failed"):
        iterate(spark.range(3), step, 5, n_rows=3)
    # the body ran narrowed, with AQE off
    assert seen == {_KEYS[0]: "1", _KEYS[1]: "false"}
    assert {k: spark.conf.get(k) for k in _KEYS} == before


def test_changed_loop_stops_at_first_round_without_changes(spark):
    """Min-label propagation on the chain 0-1-2-3-4: labels settle
    after 4 rounds, so round 5 changes nothing and ends the loop."""
    chain = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    labels = spark.range(5).select(F.col("id").alias("node"), F.col("id").alias("label"))
    rounds: list[int] = []

    def step(labels, i):
        rounds.append(i)
        neighbor = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("n_label"))
        )
        return labels.join(neighbor, labels.node == neighbor.dst, "left").select(
            "node",
            F.col("label").alias("prev"),
            F.least("label", F.coalesce("n_label", "label")).alias("label"),
        )

    def changed(_):
        return F.col("label") != F.col("prev")

    out, converged = iterate(labels, step, 10, n_rows=5, changed=changed)
    assert converged
    assert rounds == [1, 2, 3, 4, 5]
    assert {r.node: r.label for r in out.collect()} == dict.fromkeys(range(5), 0)

    rounds.clear()
    _, converged = iterate(labels, step, 3, n_rows=5, changed=changed)
    assert not converged  # budget ran out with labels still moving
    assert rounds == [1, 2, 3]


def test_none_step_stops_the_loop(spark):
    rounds: list[int] = []

    def step(frame, i):
        rounds.append(i)
        if i == 3:
            return None
        return frame.select((F.col("id") + 1).alias("id"))

    out, converged = iterate(spark.range(2), step, 10, n_rows=2)
    assert converged
    assert rounds == [1, 2, 3]
    assert sorted(r.id for r in out.collect()) == [2, 3]

    _, converged = iterate(spark.range(2), step, 0, n_rows=2)
    assert not converged  # no round ran
