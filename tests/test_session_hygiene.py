"""Session-scoped hygiene contracts (round-12 ADVICE): the JVM tmpdir
is per-process, sweep-registered, and self-healing after a crashed
sibling; run_to_completion restores shuffle.partitions even when no
prior value existed; scoped session confs come back on the error path
too; an identical task resubmission compiles no code; and the package
keeps ONE entry point each for lineage truncation (functions/ckpt.py),
temporary conf overrides (session.scoped_conf), the bounded-stream
lifecycle — start, checkpoint, width and await
(streaming.ad_stream.run_bounded) — small driver-side frames
(sources.local_frame), the staged-state fold (sources/upsert.py) and
the iterative-loop driver (functions/iterate.py); and every public
definition has a caller outside the tests."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest

from analysisofuserbehavior_spark import session as S


def test_jvm_tmpdir_is_per_process_and_sweep_registered(tmp_path, monkeypatch):
    base = str(tmp_path / "jvmtmp")
    monkeypatch.setenv("SPARK_GRAFT_JVM_TMPDIR", base)
    # a stale dir from a "crashed" driver: pid 1 is alive (init) and
    # must survive; an impossible pid must be reaped
    os.makedirs(os.path.join(base, "pid_1"))
    os.makedirs(os.path.join(base, "pid_999999999"))
    d = S._jvm_tmpdir()
    assert d == os.path.join(base, f"pid_{os.getpid()}")
    assert os.path.isdir(d)
    assert d in S._SCRATCH_DIRS  # atexit sweep owns it
    assert os.path.isdir(os.path.join(base, "pid_1"))
    assert not os.path.exists(os.path.join(base, "pid_999999999"))
    # calling again is idempotent — one registration, same dir
    assert S._jvm_tmpdir() == d
    assert S._SCRATCH_DIRS.count(d) == 1
    S._SCRATCH_DIRS.remove(d)


def test_stream_run_restores_unset_shuffle_partitions(spark, tmp_path):
    """run_to_completion's state width is min(state_partitions,
    session width, input width) — the state operators' progress
    reports it — and the session's width comes back afterwards.  The
    input width is one partition per advisory partition size of the
    files the stream reads: a tiny source fills one, and the same
    source under an advisory size of a third of its bytes fills
    three."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from analysisofuserbehavior_spark.streaming.ad_stream import run_to_completion

    class Widths(StreamingQueryListener):
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

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    src = str(tmp_path / "src")
    spark.range(10).select(
        F.col("id").alias("user_id"), F.lit(1).alias("n")
    ).write.parquet(src)
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    n_bytes = S.input_bytes(spark.readStream.schema("user_id long, n int").parquet(src))
    widths = Widths()
    spark.streams.addListener(widths)
    try:
        for session_parts, unit, want in (
            (4, None, 1),
            (16, None, 1),
            (16, -(-n_bytes // 3), 3),
            (2, -(-n_bytes // 3), 2),
        ):
            stream = (
                spark.readStream.schema("user_id long, n int").parquet(src)
                .groupBy("user_id").agg(F.sum("n").alias("total"))
            )
            name = f"t_restore_parts_{session_parts}_{unit}"
            with S.scoped_conf(spark, {key: session_parts, advisory: unit}):
                out = run_to_completion(stream, name, state_partitions=8)
                assert out.count() == 10
                assert spark.conf.get(key) == str(session_parts)
            deadline = time.monotonic() + 30
            while not widths.by_name.get(name) and time.monotonic() < deadline:
                time.sleep(0.1)  # the listener bus delivers asynchronously
            assert widths.by_name.get(name) == {want}
    finally:
        spark.streams.removeListener(widths)
    assert spark.conf.get(key) == before


def test_checkpoint_file_checksums_default_off_and_env_overridable(spark):
    """Round-12 optimization: Spark 4.1's checkpoint-file checksums
    make every state-store delta close() await an async checksum
    future (thread-dump evidence in session.py) — off by default for
    this engine's ephemeral tmpfs checkpoints; durable deployments
    re-enable them through get_spark(extra_conf=...)."""
    key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    assert spark.conf.get(key) == "false"


def test_dataframe_debugging_default_off_and_env_overridable(spark):
    """Round-12 optimization: PySpark 4's per-API-call call-site
    capture costs 2-3 py4j round trips per DataFrame/Column call
    (evidence in session.py) — off by default; debug sessions
    re-enable it through get_spark(extra_conf=...).  Only
    error-message enrichment is affected; plans and results are
    identical."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_identical_task_resubmission_compiles_no_code(spark, sf_dir):
    """get_spark sizes whole-stage codegen's class cache to the
    engine's working set: a module-1 task compiles ~112 classes, over
    Spark's default cache of 100, so at the default every resubmission
    recompiled all of them.  Read as the exact compile count
    (CodegenMetrics' histogram count, not its sampled sum)."""
    import json

    from analysisofuserbehavior_spark.modules import run_task

    task = json.dumps(
        {
            "startDate": ["2024-01-03"],
            "endDate": ["2024-01-20"],
            "startAge": ["10"],
            "endAge": ["55"],
            "sex": ["female"],
            "keywords": ["click,view"],
        }
    )
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def submit() -> int:
        before = compiles.getCount()
        for df in run_task(spark, task, sf_dir, modules=("session",)).values():
            df.write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    submit()
    assert compiles.getCount() > 0  # the counter is live in this JVM
    assert submit() == 0


def test_dedup_clusters_restores_loop_confs_on_convergence_error(spark):
    """dedup_clusters narrows shuffle width and turns AQE off for its
    loop; a budget-exhausted run must still hand both confs back."""
    from analysisofuserbehavior_spark.operators.dedup import (
        ClusterConvergenceError,
        dedup_clusters,
    )

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    # 64-deep path: one round of propagation + pointer jumping cannot
    # collapse it
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with pytest.raises(ClusterConvergenceError):
        dedup_clusters(pairs, max_iterations=1).collect()
    assert {k: spark.conf.get(k) for k in keys} == before


def test_scoped_conf_unsets_unknown_key_when_body_raises(spark):
    key = "spark.graft.test.scopedConfProbe"
    parts = "spark.sql.shuffle.partitions"
    parts_before = spark.conf.get(parts)
    assert spark.conf.get(key, None) is None
    with pytest.raises(RuntimeError, match="body failed"):
        with S.scoped_conf(spark, {key: "on", parts: 3, "spark.graft.none": None}):
            assert spark.conf.get(key) == "on"
            assert spark.conf.get(parts) == "3"
            raise RuntimeError("body failed")
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(parts) == parts_before
    assert spark.conf.get("spark.graft.none", None) is None  # None = untouched


_PKG = Path(__file__).resolve().parent.parent / "analysisofuserbehavior_spark"


def _owned_lines(owner: str) -> tuple[str, range | None]:
    """(file, line span) an owner may use a mechanism in: a whole file
    (`path`) or one function in it (`path::name`)."""
    path, _, func = owner.partition("::")
    if not func:
        return path, None
    tree = ast.parse((_PKG / path).read_text())
    fn = next(
        n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == func
    )
    return path, range(fn.lineno, fn.end_lineno + 1)


@pytest.mark.parametrize(
    ("pattern", "scope", "owner"),
    [
        (
            r"\.localCheckpoint\(|\.checkpoint\(|setCheckpointDir",
            ("",),
            "functions/ckpt.py",
        ),
        (r"\bconf\.(set|unset)\(", ("",), "session.py"),
        (
            r"[\"']spark\.sql\.shuffle\.partitions[\"']",
            ("registry.py", "streaming/"),
            "streaming/ad_stream.py::run_bounded",
        ),
        (
            r"availableNow=True|\.awaitTermination\(|[\"']checkpointLocation[\"']",
            ("",),
            "streaming/ad_stream.py::run_bounded",
        ),
        (
            r"applyInPandasWithState|transformWithStateInPandas",
            ("",),
            "streaming/stateful.py::funnel_levels_stream",
        ),
        (r"\.parallelize\(", ("",), "sources/loaders.py::local_frame"),
        (r"[\"']_next[\"']|_promote_state\(", ("",), "sources/upsert.py"),
        (r"loop_scope\(", ("",), "functions/iterate.py"),
        (r"advisoryPartitionSizeInBytes", ("",), "session.py::input_width"),
    ],
    ids=[
        "lineage_truncation",
        "conf_override",
        "stream_width",
        "bounded_stream_start",
        "stateful_python_state",
        "python_rdd_frame",
        "staged_state_fold",
        "iterative_loop",
        "input_width",
    ],
)
def test_one_entry_point_per_mechanism(pattern, scope, owner):
    """Lineage truncation goes through functions.ckpt.ckpt, temporary
    conf overrides through session.scoped_conf, and every bounded
    stream — its width, checkpoint, start and await — through
    streaming.ad_stream.run_bounded.  A second copy of any of them
    silently escapes the SPARK_GRAFT_PAIR_CKPT knob, the
    restore-on-error contract, the session-width cap or the
    checkpoint-path guard.  Per-key Python state lives only in the
    funnel's sequential fold; every other stateful stream stays in
    the JVM, with no Python worker per key per batch.  Driver-side
    rows become frames through sources.local_frame, never through a
    Python RDD whose every scan starts a Python worker.  Durable
    state folds stage `<dir>_next` and promote it only inside
    sources/upsert.py (StagedStateFold and its loader), so every fold
    shares the epoch guard, the recovery and the crash hook.  Every
    iterative loop runs through functions.iterate.iterate, the only
    place that enters the loop-width scope, so every loop shares one
    width and AQE policy, the per-round truncation and the
    convergence check.  Only session.input_width turns input bytes
    into a width (Spark's advisory partition size is its one unit), so
    checkpoints and bounded streams share one sizing policy."""
    owner_path, owner_lines = _owned_lines(owner)
    offenders = [
        f"{rel}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if (rel := path.relative_to(_PKG).as_posix()).startswith(scope)
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(pattern, line)
        and not (rel == owner_path and (owner_lines is None or n in owner_lines))
    ]
    assert not offenders, offenders


_REPO = _PKG.parent
# Reference-parity paths: the reference's production sources and
# sinks, kept for the deployment this engine stands in for although no
# gated query or bundled tool calls them.
_PARITY_PATHS = (
    "streaming/ad_stream.py::read_kafka_event_stream",
    "streaming/ad_stream.py::read_kafka_ad_click_stream",
    "sources/jdbc.py::read_jdbc",
    "sources/mockdata.py::register_mock_tables",
    "streaming/mockstream.py::mock_ad_click_micro_batches",
    "operators/reference_schema.py::actions_from_user_visit_action",
    "sources/loaders.py::save_tables_to_catalog",
    "plans/audit.py",  # the plan-lint tests' helpers
    # the JDBC MERGE sink
    "sources/upsert.py::jdbc_upsert_foreach_batch",
    "sources/upsert.py::build_merge_sql",
    "sources/upsert.py::_default_run_sql",
    # the reference's SQL function names and their column equivalents
    "functions/udfs.py::register_reference_udfs",
    "functions/udfs.py::concat_long_string",
    "functions/udfs.py::remove_random_prefix",
)


def _is_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def test_every_public_definition_has_a_caller():
    """Every top-level definition in the package is reached from a
    gated query, the task runner, a tool, bench.py, perfbench or
    `__spark_entry__.py` — not only from its own tests.  A definition
    is reached when its name is used in code (a name, an attribute or
    an import; not a docstring or a comment) outside its own body in
    any of those files (the package's `__init__` re-exports do not count),
    applied transitively: a name used only inside unreached
    definitions does not reach anything.  `@query` functions,
    dunders and the reference-parity paths above are the roots."""
    texts: dict[str, str] = {}
    spans: dict[tuple[str, str], range] = {}
    for path in sorted(_PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        rel = path.relative_to(_PKG).as_posix()
        src = path.read_text()
        texts[rel] = src
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if node.name.startswith("__") or _is_query(node):
                continue
            if rel in _PARITY_PATHS or f"{rel}::{node.name}" in _PARITY_PATHS:
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            spans[(rel, node.name)] = range(first, node.end_lineno + 1)
    callers = [
        *sorted((_REPO / "tools").glob("*.py")),
        *sorted((_REPO / "perfbench").glob("*.py")),
        _REPO / "bench.py",
        _REPO / "__spark_entry__.py",
    ]
    for path in callers:
        texts[path.relative_to(_REPO).as_posix()] = path.read_text()
    uses: dict[str, list[tuple[str, int]]] = {}
    for rel, src in texts.items():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            else:
                continue
            for name in names:
                uses.setdefault(name, []).append((rel, node.lineno))

    def inside(rel: str, n: int, defs) -> bool:
        return any(d[0] == rel and n in spans[d] for d in defs)

    unreached: set[tuple[str, str]] = set()
    while True:
        new = {
            d
            for d in spans.keys() - unreached
            if all(
                inside(rel, n, unreached | {d}) for rel, n in uses.get(d[1], ())
            )
        }
        if not new:
            break
        unreached |= new
    assert not unreached, sorted(f"{rel}::{name}" for rel, name in unreached)
