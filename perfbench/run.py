#!/usr/bin/env python3
"""Seeded, layer-attributed benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload module_tasks --seed 1 --seconds 15 --trace 0

One process, one client, closed loop: the next op is sent only after
the previous one returned.  The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`.  `--trace 0`
reports the end-to-end metrics; `--trace 1` reports the per-layer
metrics of a separate traced run (see README.md for both lists).

The tables are the sf0.1 fixture set under `data/`; `--seed` picks
what the engine is asked to do with them.  Every file the run writes
(Spark scratch, shuffle and checkpoint dirs included) stays under
`.perfbench/` in the working directory.  Each run keeps a
self-describing artifact, named by workload, seed, width, trace flag
and start time, under `.perfbench/results/`.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import datetime  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "analysisofuserbehavior_spark"

WORKLOAD_NAMES = ("module_tasks", "ad_click_stream", "corpus_ingest", "iterative_loops")

# (name, unit) of every per-layer metric a traced run derives.  The
# result line carries REPORTED: the ones every workload listed in
# BENCHMARK.json measures.  The rest belong to one layer (a module, the
# stream, the corpus, the loops) and read 0 on a workload that bypasses
# that layer; they go to the artifact and to stderr.
LAYER_METRICS = [
    ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
    ("operators.jobs", "count"), ("operators.stages", "count"),
    ("operators.tasks", "count"), ("operators.driver_gap_s", "s"),
    ("operators.executor_run_s", "s"), ("operators.executor_cpu_s", "s"),
    ("operators.shuffle_write_bytes", "bytes"), ("operators.spill_bytes", "bytes"),
    ("sources.input_rows", "count"), ("sources.input_bytes", "bytes"),
    ("sources.input_rows_per_output_row", "ratio"),
    ("trace.overhead_s", "s"),
    ("modules.build_s", "s"), ("modules.session_task_s", "s"),
    ("modules.page_task_s", "s"), ("modules.area_task_s", "s"),
    ("modules.ad_task_s", "s"), ("operators.sink_s", "s"),
    ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"), ("streaming.offset_commit_s", "s"),
    ("streaming.query_start_s", "s"), ("streaming.blacklist_fold_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_memory_bytes", "bytes"),
    ("streaming.state_commit_s", "s"),
    ("corpus.ingest_s", "s"), ("corpus.query_s", "s"), ("corpus.compact_s", "s"),
    ("corpus.replay_skip_s", "s"), ("corpus.jobs_per_ingest", "count"),
    ("corpus.write_amplification", "ratio"), ("corpus.admit_ratio", "ratio"),
    ("loops.pagerank_s", "s"), ("loops.lpa_s", "s"), ("loops.bfs_s", "s"),
    ("loops.cc_s", "s"), ("loops.jobs_per_op", "count"), ("loops.tasks_per_op", "count"),
    ("loops.shuffle_write_bytes", "bytes"),
    ("modules.self_s", "s"), ("operators.self_s", "s"), ("streaming.self_s", "s"),
    ("corpus.self_s", "s"), ("loops.self_s", "s"),
]
REPORTED = (
    "session.get_spark_s", "session.warmup_s",
    "operators.jobs", "operators.stages", "operators.tasks", "operators.driver_gap_s",
    "operators.executor_run_s", "operators.executor_cpu_s",
    "operators.shuffle_write_bytes", "operators.spill_bytes",
    "sources.input_rows", "sources.input_bytes", "sources.input_rows_per_output_row",
    "trace.overhead_s",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, samples beyond it) at the highest percentile
    that leaves at least ten samples above it.  Below 21 samples no
    such percentile lies above the median, so the run's highest
    sample (p100, none beyond) is reported instead."""
    xs = sorted(xs)
    n = len(xs)
    if n < 21:
        return (xs[-1], 100.0, 0) if xs else (0.0, 100.0, 0)
    k = n - 11  # ten samples lie strictly above index k
    return xs[k], 100.0 * (k + 1) / n, 10


# ---- process and environment ------------------------------------------------


def prepare_env(work: str) -> dict:
    """Route every scratch path of the engine and the JVM into `work`,
    so the run writes nothing outside its working directory.  The
    engine's own defaults put these on tmpfs; see README "Scratch
    paths" for what keeping them on disk costs."""
    dirs = {k: os.path.join(work, k) for k in ("scratch", "jvmtmp", "local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "SPARK_GRAFT_JVM_TMPDIR": dirs["jvmtmp"],
        "SPARK_GRAFT_LOCAL_DIR": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        # Python workers import the package (applyInPandasWithState)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    # every JVM (the launcher included): no hsperfdata files, temp here
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    )))
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return dirs


def _descendants() -> set[int]:
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parents[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parents.items() if pp in frontier} - out
        out |= frontier
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for it and its workers."""
    from pyspark import SparkContext

    procs = _descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if not _wait_gone(procs, 30):
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        _wait_gone(procs, 10)


def _wait_gone(pids: set[int], timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)
    return True


def start_session(cpus: int, dirs: dict, probe: str):
    """One set-up sample: get_spark, then a first trivial job and scan."""
    from analysisofuserbehavior_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus,
                      extra_conf={"spark.sql.warehouse.dir": dirs["warehouse"]})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(probe).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def cpu_canary() -> float:
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def code_identity() -> str:
    """sha1 over the engine package's sources (the checkout may not be
    a git repository, so the commit is identified by content)."""
    h = hashlib.sha1()
    base = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(base)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


# ---- ops --------------------------------------------------------------------


class Op:
    def __init__(self, op_id: int, kind: str, nth: int, traced: bool):
        self.id, self.kind, self.nth, self.traced = op_id, kind, nth, traced
        self.start = 0.0
        self.latency = 0.0
        self.rows = 0
        self.out_rows = 0
        self.problems: list[str] = []
        self.error: str | None = None
        self.marks: dict[str, float] = {}
        self.spark: dict[str, float] = {}
        self.extra: dict = {}

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter() - self.start

    @property
    def failed(self) -> bool:
        return bool(self.error or self.problems)

    def record(self) -> dict:
        return {"id": self.id, "kind": self.kind, "nth": self.nth, "traced": self.traced,
                "latency_s": self.latency, "rows": self.rows, "out_rows": self.out_rows,
                "failed": self.failed, "problems": self.problems[:3],
                "error": (self.error or "")[-400:], "marks": self.marks,
                "spark": self.spark, **self.extra}


class Run:
    def __init__(self, args, spark, dirs, work, data_dir, cycle_s):
        import tracing

        self.seed = args.seed
        self.trace = bool(args.trace)
        self.spark = spark
        self.dirs = dirs
        self.work_dir = work
        self.data_dir = data_dir
        self.ops: list[Op] = []
        self.layer: dict[str, float] = {}
        self.untimed: dict[str, float] = {}  # untimed work, for the artifact
        self.timed_s = 0.0
        self.tracer = tracing.Tracer(False)
        self.groups = tracing.SparkGroups(spark) if self.trace else None
        self._kind_counts: dict[str, int] = {}
        self._seen_runs: set[str] = set()
        # whole cycles (one op of each kind, a replay round, a block of
        # corpus days), as many as fill --seconds at the workload's
        # nominal cycle time: the same --seconds always means the same
        # work and the same mix of op kinds.  A traced run goes on for
        # at least three cycles, traced and untraced in turn: the first
        # is traced like an untraced run's first; the traced third
        # against the untraced second is the tracing overhead.
        self.cycles = max(1, round(args.seconds / cycle_s), 3 if self.trace else 1)

    def _next_of(self, kind: str) -> tuple[int, bool]:
        """(how many ops of this kind came before, trace this one?).
        In a traced run every other op of each kind is traced."""
        n = self._kind_counts.get(kind, 0)
        self._kind_counts[kind] = n + 1
        return n, self.trace and n % 2 == 0

    def span(self, name: str, op_id: int):
        return self.tracer.span(name, op_id)

    def describe(self, text: str) -> None:
        if self.tracer.enabled:
            self.groups.describe(text)

    @contextmanager
    def op(self, kind: str):
        op = Op(len(self.ops), kind, *self._next_of(kind))
        self.ops.append(op)
        self.tracer.enabled = op.traced
        group = f"perfbench-op{op.id}"
        if op.traced:
            self.groups.begin(group, kind)
        with self.tracer.span(f"op.{kind}", op.id, force=True):
            op.start = time.perf_counter()
            try:
                yield op
            except Exception:  # an op that raises is counted as failed
                op.error = traceback.format_exc()
                traceback.print_exc(file=sys.stderr)
            finally:
                op.latency = time.perf_counter() - op.start
                self.timed_s += op.latency
        if op.traced:
            self.groups.end()
            op.spark = self.groups.metrics(group)
        self.tracer.enabled = False

    def check(self, op: Op, fn, *args) -> None:
        """Run an output check (outside the timed section) for an op
        that returned; a check that raises counts as a mismatch."""
        if op.error is not None:
            return
        try:
            op.problems = list(fn(*args))
        except Exception as e:  # noqa: BLE001 — a broken check is a failed op
            op.problems = [f"check raised {e!r}"]

    def begin_round(self) -> tuple[int, bool]:
        """Start a replay round: (rounds before it, trace this one?)."""
        nth, traced = self._next_of("stream_round")
        self.tracer.enabled = traced
        return nth, traced

    def stream_round(self, progress, nth, traced, call_walls, wall, starts, problems) -> None:
        """Turn one replay round's progress events into ops.  Op j is
        micro-batch j (file j) through every query of the round; its
        latency is the sum of the queries' trigger times for it."""
        self.tracer.enabled = False
        with progress.lock:
            run_ids = [r for r in progress.names if r not in self._seen_runs]
            self._seen_runs |= set(run_ids)
            events = {r: list(progress.events.get(r, [])) for r in run_ids}
        self.timed_s += wall
        names = list(call_walls)
        per_query = dict(zip(names, (events[r] for r in run_ids)))
        n_batches = max(len(evs) for evs in per_query.values())
        for j in range(n_batches):
            op = Op(len(self.ops), "micro_batch", nth, traced)
            evs = {q: e[j] for q, e in per_query.items() if j < len(e)}
            op.latency = sum(e["durations"].get("triggerExecution", 0) for e in evs.values()) / 1e3
            op.rows = max(e["rows"] for e in evs.values())
            op.out_rows = sum(max(e["out_rows"], 0) for e in evs.values())
            op.extra = {"queries": evs}
            op.problems = [f"{q}: {p}" for q in names if j == len(per_query[q]) - 1
                           for p in problems.get(q, [])]
            if j == 0:
                op.extra["query_start_s"] = {
                    q: datetime.datetime.fromisoformat(
                        per_query[q][0]["timestamp"].replace("Z", "+00:00")).timestamp() - t
                    for q, t in zip(names, starts) if per_query[q]}
                if traced:
                    # the round's queries are read back together, so the
                    # job counters and the driver gap are per round
                    m = [self.groups.metrics(r) for r in run_ids]
                    op.spark = {k: sum(x[k] for x in m) for k in m[0]}
                    op.extra["round_s"] = wall
            self.ops.append(op)


# ---- metrics ----------------------------------------------------------------


def end_to_end(run: Run, setup_s: float) -> dict:
    done = [o for o in run.ops if not o.failed]
    lat = [o.latency for o in run.ops]
    tail_v, tail_p, beyond = tail(lat)
    rows = sum(o.rows for o in done)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (rows / run.timed_s if run.timed_s else 0.0, "rows/s"),
    }, {"tail_percentile": tail_p, "tail_samples_beyond": beyond, "samples": len(lat)}


def per_layer(run: Run, get_spark_s: float, warmup_s: float) -> dict:
    traced = [o for o in run.ops if o.traced]
    untraced = [o for o in run.ops if not o.traced]
    v = dict.fromkeys((n for n, _ in LAYER_METRICS), 0.0)
    v["session.get_spark_s"] = get_spark_s
    v["session.warmup_s"] = warmup_s

    def lat(kind):
        return median([o.latency for o in traced if o.kind == kind])

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    with_spark = [o for o in traced if o.spark]
    sm = lambda f: mean([o.spark[f] for o in with_spark])  # noqa: E731
    for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_write_bytes", "spill_bytes"):
        v[f"operators.{f}"] = sm(f)
    v["operators.driver_gap_s"] = mean(
        [max(o.extra.get("round_s", o.latency) - o.spark["job_s"], 0.0) for o in with_spark])
    v["sources.input_rows"] = sm("input_rows")
    v["sources.input_bytes"] = sm("input_bytes")
    out_rows = sum(o.out_rows for o in with_spark)
    v["sources.input_rows_per_output_row"] = (
        sum(o.spark["input_rows"] for o in with_spark) / out_rows if out_rows else 0.0)

    per_op_sink: dict[int, float] = {}
    for s in run.tracer.spans:
        if s.name.startswith("operators.sink"):
            per_op_sink[s.op] = per_op_sink.get(s.op, 0.0) + s.dur
    v["operators.sink_s"] = median(list(per_op_sink.values()))

    modules = [o for o in traced if "build_s" in o.marks]
    v["modules.build_s"] = median([o.marks["build_s"] for o in modules])
    for kind in ("session", "page", "area", "ad"):
        v[f"modules.{kind}_task_s"] = lat(kind) if modules else 0.0

    batches = [e for o in traced for e in o.extra.get("queries", {}).values()]
    if batches:
        def d(key):
            return median([e["durations"].get(key, 0) / 1e3 for e in batches])

        v["streaming.trigger_s"] = d("triggerExecution")
        v["streaming.add_batch_s"] = d("addBatch")
        v["streaming.planning_s"] = d("queryPlanning")
        v["streaming.offset_commit_s"] = d("commitOffsets")
        v["streaming.query_start_s"] = median(
            [x for o in traced for x in o.extra.get("query_start_s", {}).values()])
        stateful = [e["state"] for e in batches if e["state"]]
        v["streaming.state_rows"] = median([sum(s["rows"] for s in st) for st in stateful])
        v["streaming.state_memory_bytes"] = median([sum(s["mem"] for s in st) for st in stateful])
        v["streaming.state_commit_s"] = median(
            [sum(s["commit_ms"] for s in st) / 1e3 for st in stateful])

    for kind in ("ingest", "query", "compact"):
        v[f"corpus.{kind}_s"] = lat(kind)
    v["corpus.replay_skip_s"] = median([o.latency for o in run.ops if o.kind == "replay"])
    v["corpus.jobs_per_ingest"] = mean(
        [o.spark["jobs"] for o in with_spark if o.kind == "ingest"])

    loops = [o for o in with_spark if o.kind in ("pagerank", "bfs", "lpa", "cc")]
    for kind in ("pagerank", "lpa", "bfs", "cc"):
        v[f"loops.{kind}_s"] = lat(kind)
    v["loops.jobs_per_op"] = mean([o.spark["jobs"] for o in loops])
    v["loops.tasks_per_op"] = mean([o.spark["tasks"] for o in loops])
    v["loops.shuffle_write_bytes"] = mean([o.spark["shuffle_write_bytes"] for o in loops])

    selfs = run.tracer.self_times()
    n_traced = max(len({o.id for o in traced if o.id >= 0}), 1)
    for layer in ("modules", "operators", "streaming", "corpus", "loops"):
        v[f"{layer}.self_s"] = selfs.get(layer, 0.0) / n_traced
    v.update({k: x for k, x in run.layer.items() if k in v})
    warm_traced = [o.latency for o in traced if o.nth > 0]
    if warm_traced and untraced:
        v["trace.overhead_s"] = median(warm_traced) - median([o.latency for o in untraced])
    units = dict(LAYER_METRICS)
    return {k: (float(x), units[k]) for k, x in v.items()}


# ---- main -------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    tag = f"{args.workload}_s{args.seed}_c{cpus}_t{args.trace}_{stamp}_{os.getpid()}"
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work", tag)
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    dirs = prepare_env(work)

    import inputs
    import workloads

    pre_s = time.perf_counter() - T_PROCESS

    data_dir = inputs.DATA_DIR
    probe = os.path.join(data_dir, "events.parquet")
    canary = cpu_canary()

    # set-up: process start to a ready session (one sample; see
    # README "Budget"), less the CPU canary's own time
    t_imp = time.perf_counter()
    import analysisofuserbehavior_spark.session  # noqa: F401
    import_s = pre_s + time.perf_counter() - t_imp
    spark, get_spark_s, warmup_s = start_session(cpus, dirs, probe)
    setup_s = import_s + get_spark_s + warmup_s

    run = Run(args, spark, dirs, work, data_dir, workloads.CYCLE_SECONDS[args.workload])
    status = 0
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        status = 1
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        run.untimed["stop_s"] = time.perf_counter() - t_stop

    attempted = len(run.ops)
    failed = sum(o.failed for o in run.ops)
    diag = {"tail_percentile": None, "tail_samples_beyond": None, "samples": attempted}
    if args.trace:
        layers = per_layer(run, get_spark_s, warmup_s)
        metrics = {k: layers[k] for k in REPORTED}
        layer_detail = {k: v for k, (v, _u) in layers.items() if k not in metrics}
    else:
        metrics, tail_info = end_to_end(run, setup_s)
        diag.update(tail_info)
        layer_detail = {}
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "sf": inputs.SF, "code_sha1": code_identity(),
        "inputs": inputs.table_rows(), "cpu_canary_s": canary, "loadavg": os.getloadavg(),
        "setup_s": setup_s, "get_spark_s": get_spark_s, "warmup_s": warmup_s,
        "timed_s": run.timed_s, **run.untimed, **diag,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
        "layer_detail": layer_detail,
        "ops": [o.record() for o in run.ops],
    }
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if args.trace:
        run.tracer.dump(os.path.join(results, tag + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    if status or attempted == 0:
        print("perfbench: run did not complete", file=sys.stderr)
        return status or 1
    # diagnostics (not gated) go to stderr; stdout ends with the result
    tail_note = "" if args.trace else (
        f" tail=p{diag['tail_percentile']:g} beyond={diag['tail_samples_beyond']}")
    print(f"perfbench: artifact .perfbench/results/{tag}.json sf={inputs.SF} cpus={cpus} "
          f"cpu_canary_s={canary:.4f} loadavg={os.getloadavg()} "
          f"samples={attempted}{tail_note}", file=sys.stderr)
    for k, v in layer_detail.items():
        if v:  # a layer this workload bypasses reads 0
            print(f"perfbench: {k} = {v:.6g} {dict(LAYER_METRICS)[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
