"""Two-phase replay fixture for the streaming gate queries.

A gate query that must prove state carried ACROSS micro-batches
writes its input as ordered phases, one parquet file each, and
replays them through a `maxFilesPerTrigger=1` file source: file
mtimes pin the order, so every run sees the same micro-batches.  The
query then starts its stream through `ad_stream.run_bounded` and
proves what it needs (an epoch count, an update count, a crash that
really fired).

    with two_phase_replay(spark, [early, late], "q_") as r:
        run_bounded(r.stream.writeStream..., spark, r.ckpt)
        rows = ...collect()
        return local_frame(spark, rows, ddl)

The work dir (phase files, checkpoint, sink state) is removed when
the block exits, also when the body raises; a result that must
outlive it is materialized inside the block.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import scratch_dir


class Replay:
    """Handle on one replay: `work` (the scratch dir), `in_dir` (the
    phase files), `ckpt` (the checkpoint path for its queries)."""

    def __init__(
        self, spark: SparkSession, work: str, in_dir: str, schema: T.StructType
    ):
        self.spark = spark
        self.work = work
        self.in_dir = in_dir
        self.ckpt = os.path.join(work, "ckpt")
        self._schema = schema

    @property
    def stream(self) -> DataFrame:
        """A fresh file-source stream over the phase files, one file
        per micro-batch, with the schema the phases were written in."""
        return (
            self.spark.readStream.schema(self._schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )

    def rows(self) -> int:
        """Total rows across the phase files, read from the parquet
        FOOTERS on the driver (the files are local staging copies) —
        replaces a re-scan of the source frame when a query only needs
        an emptiness guard."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(self.in_dir, "*.parquet"))
        )

    def run_crash_then_resume(self, start: Callable[[], object], what: str) -> None:
        """Run `start` (one bounded query whose sink is armed to fail
        mid-protocol), expect it to die, then run it again from the
        same checkpoint so the interrupted epoch replays.  Raises when
        the injected crash did not fire: the replay would then no
        longer exercise `what`."""
        try:
            start()
        except StreamingQueryException:
            pass
        else:
            raise RuntimeError(
                "injected crash did not fire — the replay no longer exercises "
                f"the {what}"
            )
        start()


def _write_phases(work: str, phases: list[DataFrame]) -> str:
    """Write each phase frame as ONE parquet file under `<work>/in`
    with ascending mtimes.  Executor-side Spark writes — nothing
    materializes on the driver; coalesce(1) is the fixture's
    requirement (the mtime-order contract needs exactly one file per
    phase), not a scale pattern."""
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    for i, df in enumerate(phases):
        stage = os.path.join(work, f"stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        parts = glob.glob(os.path.join(stage, "part-*.parquet"))
        if not parts:
            # a phase frame that resolved to ZERO partitions (e.g. an
            # empty scan after pruning) writes only _SUCCESS; fail
            # legibly instead of IndexError-ing on the glob
            raise ValueError(
                f"replay phase {i} produced no parquet part file "
                f"(empty/zero-partition frame?) under {stage}; every "
                f"phase must contribute exactly one file"
            )
        fp = os.path.join(in_dir, f"phase_{i}.parquet")
        os.replace(parts[0], fp)
        shutil.rmtree(stage, ignore_errors=True)
        # the file source admits oldest-mtime first; pin the order
        os.utime(fp, (1_000_000 + i * 100, 1_000_000 + i * 100))
    return in_dir


@contextmanager
def two_phase_replay(
    spark: SparkSession, phases: list[DataFrame], prefix: str
) -> Iterator[Replay]:
    """Write `phases` as ordered replay files in a fresh scratch dir
    named with `prefix`, yield the `Replay`, and remove the dir on
    exit.  All phases share `phases[0]`'s schema."""
    work = scratch_dir(prefix=prefix)
    try:
        yield Replay(spark, work, _write_phases(work, phases), phases[0].schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
