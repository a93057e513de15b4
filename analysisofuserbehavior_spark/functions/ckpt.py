"""Lineage truncation for multi-consumer frames and iterative loops.

`ckpt` is the package's ONLY lineage-truncation call — every shared
frame and every loop round (pagerank, BFS, label propagation,
k-means, the CC fixpoint, BPE) goes through it, so the
SPARK_GRAFT_PAIR_CKPT lifecycle knob covers all of them; loop rounds
reach it through functions/iterate.py, home of `loop_scope`.

One load-bearing Spark fact drives this module: plan-level exchange
reuse does NOT deduplicate RE-DERIVED DataFrame branches — only
truncating the lineage to one concrete RDD guarantees a frame is
computed once no matter how many downstream branches consume it
(measured in round 5 on the LM family, round 7 on the composed
pipelines: clean_corpus scanned the corpus 13×, corpus_pipeline_e2e
24×, scd2_apply's full-outer join recomputed 5× — once per branch —
until truncated).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..session import input_bytes, input_width, label_checkpoint, scoped_conf

_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"


def ckpt(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize `df` exactly once for all downstream branches.

    Lazy localCheckpoint truncates the lineage to ONE concrete RDD, so
    every consumer reads the SAME materialized blocks.  Pass
    `eager=True` when the consumers include PARALLEL broadcast-
    exchange jobs: Spark runs those in separate threads, and two jobs
    hitting a lazily-checkpointed RDD before either has populated its
    blocks will each compute it (profiled in lsh_tuning_report —
    duplicate 32-task shingle stages despite the lazy ckpt); eager
    materialization at construction closes that race at the cost of
    one extra job round.  Beyond the
    compute-once guarantee, truncation has a subtler plan benefit:
    AQE's OptimizeSkewedJoin only matches
    SortMergeJoin(Sort(Shuffle), Sort(Shuffle)) — an aggregate left
    between a shuffle and the join's sort disqualifies the rule
    (verified empirically, round 6), so truncating aggregate outputs
    that feed joins restores skew-split eligibility; and AQE sees
    exact post-materialization stats, broadcasting small frames it
    would otherwise size-estimate wrong.  Blocks persist
    MEMORY_AND_DISK on executors, released by the ContextCleaner when
    the frame is garbage-collected
    (`session.release_query_resources` forces this between queries in
    long-lived drivers).

    Cluster-scale lifecycle knob (SPARK_GRAFT_PAIR_CKPT), honored by
    every caller — shared frames and every iterative loop alike:
    * ``local`` (default) — localCheckpoint: fastest, blocks live on
      executors; an executor loss mid-query kills the job (retried
      from source).  Right for local mode and short jobs.
    * ``reliable`` — rdd checkpoint to the session's checkpoint dir
      (HDFS/object store): survives executor loss at the cost of a
      distributed write+read; right for 1000-executor runs.  Raises
      with a clear message if no checkpoint dir is set.
    Both strategies truncate lineage to a LogicalRDD, so every plan
    property above holds identically.

    Width: under AQE a checkpoint is not lazy for shuffles — planning
    the adaptive query runs every exchange below it at construction,
    one job each, and an eager one adds its own.  So when the plan's
    input fills fewer partitions than the session width
    (`session.input_width`), the checkpoint is planned statically at
    that width: AQE off and shuffle.partitions narrowed for the build
    (`scoped_conf`).  A lazy checkpoint then runs no job at
    construction and an eager one exactly one (plus one per broadcast
    below it).  An unknown input, a wide one, or a session with AQE
    already off (a `loop_scope` round) keeps the session's confs.
    The result is labelled with its input bytes, so later plans over
    it are sized by its origin."""
    mode = os.environ.get("SPARK_GRAFT_PAIR_CKPT", "local")
    spark = df.sparkSession
    if mode == "reliable":
        if spark.sparkContext._jsc.sc().checkpointDir().isEmpty():
            raise ValueError(
                "SPARK_GRAFT_PAIR_CKPT=reliable requires "
                "spark.sparkContext.setCheckpointDir(...) to be set first"
            )
    elif mode != "local":
        raise ValueError(
            f"SPARK_GRAFT_PAIR_CKPT must be 'local' or 'reliable', got {mode!r}"
        )
    origin, static = None, {}
    if spark.conf.get(_AQE).lower() == "true":
        origin = input_bytes(df)
        width = input_width(spark, origin)
        if width is not None and width < int(spark.conf.get(_PARTS)):
            static = {_AQE: "false", _PARTS: width}
    with scoped_conf(spark, static):
        out = (
            df.checkpoint(eager=eager)
            if mode == "reliable"
            else df.localCheckpoint(eager=eager)
        )
    if origin is not None:
        label_checkpoint(out, origin)
    return out

