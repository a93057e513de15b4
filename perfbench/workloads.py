"""The four workloads.  Each is a closed loop with one client: the next
op starts only after the previous one has returned.

A workload function gets a `Run` (session, tracer, cycle count, dirs) and
records each op through `run.op(...)`; checks run after the op's
timer has stopped.  Per-layer figures go into `run.layer`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import pandas as pd

import checks
import inputs


# ---- module_tasks -----------------------------------------------------------


def module_tasks(run) -> None:
    from analysisofuserbehavior_spark.modules import run_task

    def submit(task, op=None):
        with run.span("modules.run_task", op.id if op else -1):
            run.describe(f"{task.kind}: build")
            out = run_task(run.spark, task.task_json, run.data_dir, modules=(task.kind,))
        if op:
            op.mark("build_s")
        checked = checks.CHECKED_TABLE[task.kind]
        got = None
        for name, df in out.items():
            with run.span(f"operators.sink.{name}", op.id if op else -1):
                run.describe(f"{task.kind}: {name}")
                if name == checked:
                    got = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        return got

    # one untimed cycle first, so every timed op runs on a warm JVM
    t = time.perf_counter()
    for task in inputs.module_tasks(run.seed, len(inputs.MODULE_KINDS), warmup=True):
        submit(task)
    run.untimed["warmup_cycle_s"] = time.perf_counter() - t
    con = checks.connect(run.data_dir)
    for task in inputs.module_tasks(run.seed, run.cycles * len(inputs.MODULE_KINDS)):
        got = None
        with run.op(task.kind) as op:
            got = submit(task, op)
        op.rows = inputs.events_between(task.start, checks.next_day(task.end))
        op.out_rows = 0 if got is None else len(got)
        run.check(op, checks.check_module_task, con, task, got)
    con.close()


# ---- ad_click_stream --------------------------------------------------------


class _Progress:
    """StreamingQueryListener collecting every query's progress events."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: dict[str, list] = {}
        self.names: dict[str, str] = {}
        self.done: set[str] = set()
        self.lock = threading.Lock()

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.names[str(event.runId)] = event.name or ""

            def onQueryProgress(self, event):
                p = event.progress
                with outer.lock:
                    outer.events.setdefault(str(p.runId), []).append({
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "out_rows": p.sink.numOutputRows,
                        "timestamp": p.timestamp,
                        "durations": dict(p.durationMs),
                        "state": [
                            {"rows": s.numRowsTotal, "mem": s.memoryUsedBytes,
                             "commit_ms": s.commitTimeMs}
                            for s in p.stateOperators
                        ],
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.done.add(str(event.runId))

        self.listener = L()

    def wait(self, n_queries: int, timeout: float = 60.0) -> None:
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self.lock:
                if len(self.done) >= n_queries:
                    return
            time.sleep(0.01)
        raise TimeoutError("streaming listener missed query terminations")


def ad_click_stream(run) -> None:
    from analysisofuserbehavior_spark.operators import behavior_model as bm
    from analysisofuserbehavior_spark.sources import load_table
    from analysisofuserbehavior_spark.streaming import ad_stream as ads
    from analysisofuserbehavior_spark.streaming.stateful import (
        final_totals,
        running_click_totals,
    )

    spark = run.spark
    users = bm.user_info(
        load_table(spark, run.data_dir, "customer"),
        load_table(spark, run.data_dir, "nation"),
        load_table(spark, run.data_dir, "region"),
    )
    progress = _Progress()
    spark.streams.addListener(progress.listener)
    fold_s: list[float] = []
    starts: list[float] = []
    try:
        for rnd in range(run.cycles):
            base = os.path.join(run.dirs["scratch"], f"round{rnd}")
            src = os.path.join(base, "src")
            batches = inputs.write_ad_round(run.seed, rnd, src)
            rows = pd.concat(batches, ignore_index=True)

            def stream():
                return ads.read_event_stream(spark, src, max_files_per_trigger=1)

            loop = ads.BlacklistLoop(os.path.join(base, "bl_state"), inputs.BLACKLIST_THRESHOLD)
            inner = loop.process_batch

            def timed_fold(batch, epoch_id, _inner=inner):
                t = time.perf_counter()
                _inner(batch, epoch_id)
                fold_s.append(time.perf_counter() - t)

            loop.process_batch = timed_fold
            n_before = len(progress.done)
            nth, traced = run.begin_round()
            t_round = time.perf_counter()
            calls = [
                ("blacklist", lambda: loop.run(stream(), os.path.join(base, "bl_ckpt"))),
                ("totals", lambda: run_totals.append(final_totals(ads.run_to_completion(
                    running_click_totals(stream()), f"pb_totals_{rnd}", mode="update",
                    state_provider="rocksdb")))),
                ("trend", lambda: ads.run_to_completion(
                    ads.sliding_click_trend(stream()), f"pb_trend_{rnd}")),
                ("top3", lambda: ads.province_top3_per_batch(
                    stream(), users, os.path.join(base, "top3"),
                    os.path.join(base, "top3_ckpt"))),
            ]
            run_totals: list = []
            call_walls = {}
            for name, call in calls:
                with run.span(f"streaming.{name}", -1):
                    run.describe(f"stream: {name}")
                    starts.append(time.time())
                    t = time.perf_counter()
                    call()
                    call_walls[name] = time.perf_counter() - t
            wall = time.perf_counter() - t_round
            progress.wait(n_before + len(calls))
            totals = run_totals[0].toPandas()
            bl_totals = loop.current_totals(spark).toPandas()
            problems = {
                "totals": checks.compare(totals, checks.expected_click_totals(rows)),
                "blacklist": checks.compare(
                    bl_totals, checks.expected_blacklist_totals(batches, inputs.BLACKLIST_THRESHOLD)),
            }
            run.stream_round(progress, nth, traced, call_walls, wall, starts[-len(calls):], problems)
            shutil.rmtree(base, ignore_errors=True)
    finally:
        spark.streams.removeListener(progress.listener)
    run.layer["streaming.blacklist_fold_s"] = statistics.median(fold_s) if fold_s else 0.0


# ---- corpus_ingest ----------------------------------------------------------


def _du(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def corpus_ingest(run) -> None:
    from pyspark.sql import functions as F

    from analysisofuserbehavior_spark.operators.corpus_pipeline import ingest_corpus_day
    from analysisofuserbehavior_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs
    from analysisofuserbehavior_spark.operators.retrieval import (
        bm25_topk_indexed,
        compact_inverted_index,
        read_index_stats,
    )

    spark = run.spark
    plan = inputs.corpus_plan(run.seed)
    if run.cycles * inputs.DAYS_PER_CYCLE > len(plan.days):
        raise ValueError(f"{run.cycles} cycles need more than the {len(plan.days)} planned days")
    store = os.path.join(run.work_dir, "store")
    index = os.path.join(run.work_dir, "index")
    arrived = 0
    admitted_bytes = 0

    def counts() -> tuple[int, int]:
        n_store = spark.read.parquet(store).count()
        n_index = read_index_stats(spark, index).agg(F.sum("n_docs")).first()[0]
        return n_store, int(n_index or 0)

    def frame(df: pd.DataFrame):
        return spark.createDataFrame(df, "doc_id long, text string")

    def ingest(d: int, kind: str) -> None:
        nonlocal arrived, admitted_bytes
        day, docs = plan.days[d]
        before = counts() if d or kind == "replay" else (0, 0)
        with run.op(kind) as op:
            with run.span(f"corpus.{kind}", op.id):
                run.describe(f"{kind} {day}")
                ingest_corpus_day(spark, frame(docs), day, store, index, first_day=(d == 0))
            op.rows = len(docs)
        if kind == "replay":
            run.check(op, lambda: checks.check_replay(before, counts()))
            return
        after = counts()
        run.check(op, checks.check_store_index, *after)
        op.out_rows = after[0] - before[0]
        arrived += len(docs)
        added = spark.read.parquet(store).where(F.col("day") == day).select(
            F.sum(F.length("text"))).first()[0]
        admitted_bytes += int(added or 0)
        stored_ids = {r[0] for r in spark.read.parquet(store).select("doc_id").collect()}
        for q in range(inputs.QUERIES_PER_DAY):
            terms = plan.queries[d * inputs.QUERIES_PER_DAY + q]
            got = None
            with run.op("query") as op:
                with run.span("corpus.query", op.id):
                    run.describe(f"bm25 {' '.join(terms)}")
                    got = bm25_topk_indexed(spark, index, terms, k=10).toPandas()
                op.rows = after[0]
                op.out_rows = len(got)
            run.check(op, checks.check_topk, got, stored_ids, 10)

    # a cycle is DAYS_PER_CYCLE days (each an ingest and its queries)
    # followed by a compaction; the first cycle also re-submits one of
    # its committed days, which the ingest ledger must skip
    for c in range(run.cycles):
        for d in range(c * inputs.DAYS_PER_CYCLE, (c + 1) * inputs.DAYS_PER_CYCLE):
            ingest(d, "ingest")
        if c == 0:
            ingest(plan.replay_day, "replay")
        snap = counts()
        with run.op("compact") as op:
            with run.span("corpus.compact", op.id):
                run.describe("compact index")
                compact_inverted_index(spark, index)
            op.rows = snap[1]
        run.check(op, lambda: checks.check_replay(snap, counts()))
        # the batch twin of the ingest screens: near-dup clusters over
        # every document that arrived this cycle (CC loop)
        days = plan.days[c * inputs.DAYS_PER_CYCLE:(c + 1) * inputs.DAYS_PER_CYCLE]
        arrivals = pd.concat([docs for _, docs in days], ignore_index=True)
        docs_path = os.path.join(run.work_dir, f"arrivals{c}.parquet")
        arrivals.to_parquet(docs_path, index=False)
        got = None
        with run.op("cc") as op:
            with run.span("loops.cc", op.id):
                run.describe("dedup_clusters over arrivals")
                got = dedup_clusters(minhash_lsh_pairs(frame(arrivals))).toPandas()
            op.rows = len(arrivals)
            op.out_rows = len(got)
        run.check(op, lambda: checks.compare(got, checks.clusters_oracle(docs_path)))
    written = _du(store, index, index + "_ledger", store + "_sigs")
    run.layer["corpus.write_amplification"] = written / max(admitted_bytes, 1)
    n_store = counts()[0] if os.path.exists(store) else 0
    run.layer["corpus.admit_ratio"] = n_store / max(arrived, 1)


# ---- iterative_loops --------------------------------------------------------


def iterative_loops(run) -> None:
    from pyspark.sql import functions as F

    from analysisofuserbehavior_spark.operators import behavior_model as bm
    from analysisofuserbehavior_spark.operators.covisitation import item_covisitation
    from analysisofuserbehavior_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs
    from analysisofuserbehavior_spark.operators.graph import (
        bfs_depths,
        label_propagation,
        page_transition_edges,
        pagerank,
    )
    from analysisofuserbehavior_spark.sources import load_table, ntz_lit

    spark = run.spark
    con = checks.connect(run.data_dir)

    def actions(lo: str, hi: str):
        ev = load_table(spark, run.data_dir, "events")
        return bm.actions(ev.where((F.col("ts") >= ntz_lit(lo)) & (F.col("ts") < ntz_lit(hi))))

    for spec in inputs.loop_ops(run.seed, run.cycles * len(inputs.LOOP_KINDS)):
        got = None
        with run.op(spec.kind) as op:
            with run.span(f"loops.{spec.kind}", op.id):
                run.describe(f"loop {spec.kind}")
                if spec.kind == "pagerank":
                    got = pagerank(page_transition_edges(actions(spec.start, spec.end))).toPandas()
                elif spec.kind == "bfs":
                    src = spark.createDataFrame([(spec.source,)], "node string")
                    got = bfs_depths(page_transition_edges(actions(spec.start, spec.end)), src).toPandas()
                elif spec.kind == "lpa":
                    cov = item_covisitation(actions(spec.start, spec.end)).select(
                        F.col("item_a").alias("src"), F.col("item_b").alias("dst"),
                        F.col("n_co").alias("weight"))
                    got = label_propagation(cov).toPandas()
                else:
                    docs = load_table(spark, run.data_dir, "documents").where(
                        F.col("doc_id") % spec.doc_mod == spec.doc_rem)
                    got = dedup_clusters(minhash_lsh_pairs(docs)).toPandas()
        if spec.kind == "cc":
            op.rows = int((inputs.documents()["doc_id"] % spec.doc_mod == spec.doc_rem).sum())
        else:
            op.rows = inputs.events_between(spec.start, spec.end)
        op.out_rows = 0 if got is None else len(got)
        run.check(op, checks.check_loop, con, run.data_dir, spec, got)
    con.close()


# nominal seconds of one cycle on a 4-core host (cold, first cycle)
CYCLE_SECONDS = {
    "module_tasks": 14,
    "ad_click_stream": 22,
    "corpus_ingest": 18,
    "iterative_loops": 12,
}

WORKLOADS = {
    "module_tasks": module_tasks,
    "ad_click_stream": ad_click_stream,
    "corpus_ingest": corpus_ingest,
    "iterative_loops": iterative_loops,
}
