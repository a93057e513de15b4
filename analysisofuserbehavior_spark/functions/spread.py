"""Scale-adaptive input-spread for CPU-heavy stage-1 work.

The gate/bench parquet tables are single files with ONE row group, so
their scans plan exactly one partition, and everything upstream of a
query's first Exchange — tokenize + explode + partial aggregation,
per-row Python codecs in mapInPandas, MinHash's 64 min-aggregates —
serializes on a single task while the other cores idle (measured:
image_features_jpeg 5.5 s wall with 5.4 s TOTAL executor time on
local[32]).  This is the optimization guide's §2.5 "input skew: one
huge unsplittable file → repartition immediately after the read"
case.

`spread_small_scan` hash-repartitions the NARROW input frame (ids +
text — never derived heavy columns; generate those after the
exchange) to the session's defaultParallelism, and is a NO-OP when
the frame already carries at least that many partitions — the 100 TB
layout (thousands of files / row groups) takes the no-op path, so no
shuffle is ever added at scale.  The knob is the session's core
count, not a constant, so the driver's lower-core bench runs spread
to their own width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# floor for `min_bytes=LIGHT_WORK` call sites (below it, LIGHT stage-1
# work finishes faster serially than the exchange costs): tokenizing /
# counting runs at ~100-200 MB/s on one core, so ~32 MB of input is
# ~0.2-0.3 s serial — the measured cost of the added exchange + stage
# round at local job-scheduling latency.  Heavy-per-row call sites
# (media codecs, MinHash aggregation) pass no floor: their stage-1
# cost per byte is orders of magnitude higher and the spread pays for
# itself at any input size.  A constant, not core-count-derived.
LIGHT_WORK = 32 << 20


def spread_small_scan(
    df: DataFrame, key: str = "doc_id", min_bytes: int | None = None
) -> DataFrame:
    """Repartition `df` to defaultParallelism on `key` iff it
    currently has fewer partitions; identity otherwise.  `key` must
    be high-cardinality (row-level id) so the hash spreads evenly.

    `min_bytes` (round-13, VERDICT r12 #9): light-per-row call sites
    pass a size floor — when the optimizer's estimate of the frame is
    below it, the serial stage-1 work costs less than the exchange it
    would remove, so the spread is skipped.  The 100 TB path is
    untouched either way: at real partition counts the function
    returns before any estimate is read."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if min_bytes is not None:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
        )
        if est < min_bytes:
            return df
    return df.repartition(target, key)
