"""Round-12 hardening pins: dedup_contained_docs short-doc contract
parity (round-12 ADVICE) and rarest-gram anchor completeness under a
stop-gram opener (VERDICT r11 #1 — the Zipf-head hazard, unit-sized;
tools/stress_containment_skew.py runs the 10× version)."""

from __future__ import annotations

import duckdb
import pytest

from analysisofuserbehavior_spark.operators.dedup import dedup_contained_docs


def _spark_result(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: (r["n_containers"], r["container_id"])
        for r in dedup_contained_docs(df).collect()
    }


def _oracle_result(rows):
    from analysisofuserbehavior_spark.oracle import ORACLE

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    return {
        int(r[0]): (int(r[1]), int(r[2]))
        for r in con.execute(ORACLE["dedup_contained_docs"]).fetchall()
    }


def test_contained_docs_short_docs_excluded_both_engines(spark):
    """A <4-token doc contained verbatim in a longer doc is OUT OF
    SCOPE for the containment operator on BOTH engines (it cannot
    carry a 4-gram anchor; sub-anchor docs are exact-dedup's job).
    Before the round-12 ADVICE fix the oracle included it and the
    gate was green only because the fixture had no short docs."""
    rows = [
        (1, "tiny doc"),                                   # 2 tokens
        (2, "prefix words tiny doc suffix words here now"),  # contains 1
        (3, "a b c d e"),                                  # 5 tokens
        (4, "zz a b c d e yy xx ww vv"),                   # contains 3
    ]
    got_spark = _spark_result(spark, rows)
    got_oracle = _oracle_result(rows)
    assert got_spark == got_oracle
    assert 1 not in got_spark          # short doc: excluded by contract
    assert got_spark[3] == (1, 4)      # anchor-eligible doc: found


def test_rarest_anchor_complete_under_stop_gram_opener(spark):
    """Every doc opens with the same stop phrase (first-gram df =
    corpus size); the rarest-gram anchor must come from each doc's
    unique tail and still find the planted containments."""
    stop = "in the of the and a to in"
    rows = [(i, f"{stop} unique{i} tail{i} alpha{i}") for i in range(20)]
    rows += [
        (100 + i, f"wrap start {stop} unique{i} tail{i} alpha{i} wrap end")
        for i in range(0, 20, 5)
    ]
    got_spark = _spark_result(spark, rows)
    assert got_spark == {i: (1, 100 + i) for i in range(0, 20, 5)}
    assert got_spark == _oracle_result(rows)


def test_spread_floor_skips_tiny_light_frames(spark):
    """`min_bytes` (VERDICT r12 #9): a light-work call site's floor
    suppresses the spread on frames the optimizer estimates below it
    — the exchange would cost more than the serial stage-1 work it
    removes — while frames above the floor (and all no-floor callers)
    still spread.  The at-scale no-op (>= parallelism partitions) is
    pinned separately in test_plans."""
    from analysisofuserbehavior_spark.functions.spread import spread_small_scan

    tiny = spark.range(100).withColumnRenamed("id", "doc_id").coalesce(1)
    # floored: estimate (~800 B) < floor -> identity, stays serial
    assert spread_small_scan(tiny, min_bytes=1 << 20).rdd.getNumPartitions() == 1
    # unfloored (heavy-work call sites): spreads to the session width
    spread = spread_small_scan(tiny)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # floor below the estimate behaves like no floor
    assert (
        spread_small_scan(tiny, min_bytes=1).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_checkpoint_guard_couples_checksums_to_ephemeral_paths(spark, tmp_path):
    """VERDICT r12 #8: a session running with streaming checkpoint
    checksums DISABLED (the engine default — its checkpoints are
    ephemeral scratch) must refuse a checkpointLocation outside the
    ephemeral media loudly, instead of silently running a durable
    checkpoint without corruption detection."""
    import pytest

    from analysisofuserbehavior_spark.session import (
        scratch_dir,
        streaming_checkpoint_location,
    )

    key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    assert spark.conf.get(key) == "false"  # the engine default
    # ephemeral media pass: registered scratch, tmpfs, system tmp
    for ok in (scratch_dir() + "/ckpt", "/dev/shm/x/ckpt", str(tmp_path / "c")):
        assert streaming_checkpoint_location(spark, ok) == ok
    # a durable-looking path is refused while checksums are off
    with pytest.raises(ValueError, match="checksums DISABLED"):
        streaming_checkpoint_location(spark, "/root/warehouse/stream_ckpt")
    # re-enabling checksums (the durable-deployment conf) lifts the guard
    spark.conf.set(key, "true")
    try:
        assert (
            streaming_checkpoint_location(spark, "/root/warehouse/stream_ckpt")
            == "/root/warehouse/stream_ckpt"
        )
    finally:
        spark.conf.set(key, "false")


@pytest.mark.parametrize(
    "uri, refusal",
    [
        ("file:{tmp}/c", None),
        ("file://{tmp}/c", None),
        ("file://localhost{tmp}/c", None),
        ("file:/srv/warehouse/stream_ckpt", "not under an ephemeral"),
        ("file://otherhost{tmp}/c", "authority 'otherhost'"),
        ("hdfs://namenode:8020{tmp}/c", "scheme 'hdfs'"),
        ("s3a://bucket/ckpt", "scheme 's3a'"),
    ],
)
def test_checkpoint_guard_parses_uris(spark, uri, refusal):
    """Checkpoint locations given as URIs: a `file:` URI with an empty
    or `localhost` authority is judged by its path; any other scheme
    or authority is not local ephemeral scratch, and the refusal names
    it instead of testing a mangled local path."""
    import tempfile

    from analysisofuserbehavior_spark.session import streaming_checkpoint_location

    path = uri.format(tmp=tempfile.gettempdir())
    if refusal is None:
        assert streaming_checkpoint_location(spark, path) == path
    else:
        with pytest.raises(ValueError, match=refusal):
            streaming_checkpoint_location(spark, path)
