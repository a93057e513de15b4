"""Per-stage profiler for a single registry query.

Runs the query through the noop sink N times, then dumps every
completed stage from the status REST API: stage id, name, task count,
executor run time, shuffle bytes, input bytes — the data the optimization guide (§1, §7) says to collect
before touching a plan.  Beside the job and stage lists it prints the
exact number of whole-stage codegen compiles the last run paid
(CodegenMetrics' compile count; 0 when every class was cached), and
how many jobs the last run launched while the query function built
its plan (eager inner actions, and the shuffles a lazy `ckpt` runs
under AQE at construction) versus while the noop sink ran.

Usage:
    python tools/profile_query.py <query> [--runs 2]
        [--sf /root/testdata/sf0.1] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from analysisofuserbehavior_spark.registry import QUERIES
    from analysisofuserbehavior_spark.session import get_spark, release_query_resources

    spark = get_spark("profile", cpus=args.cpus, extra_conf={"spark.ui.enabled": "true"})

    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def stages():
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=complete", timeout=15
        ) as r:
            return json.loads(r.read())

    def jobs():
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/jobs", timeout=15
        ) as r:
            return json.loads(r.read())

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    sc = spark.sparkContext

    def phase(group: str | None) -> None:
        """Tag the jobs that follow with `group` (None: untagged)."""
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setJobDescription(group and f"{args.query}: {group}")

    times = []
    mark = -1
    jmark = -1
    cmark = 0
    for i in range(args.runs):
        last = i == args.runs - 1
        if last:
            mark = max((s["stageId"] for s in stages()), default=-1)
            jmark = max((j["jobId"] for j in jobs()), default=-1)
            cmark = compiles.getCount()
        t0 = time.perf_counter()
        phase("build" if last else None)
        df = QUERIES[args.query](spark, args.sf)
        phase("sink" if last else None)
        df.write.format("noop").mode("overwrite").save()
        phase(None)
        times.append(round(time.perf_counter() - t0, 3))
        del df
        release_query_resources(spark)
    print(f"runs: {times}")
    print(f"codegen compiles in last run: {compiles.getCount() - cmark}")
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job groups are listener-fed
    build, sink = (len(sc.statusTracker().getJobIdsForGroup(g)) for g in ("build", "sink"))
    print(f"jobs in last run: {build} while building the plan, {sink} in the noop sink")

    js = [j for j in jobs() if j["jobId"] > jmark]
    print(f"\n== {len(js)} jobs in last run ==")
    for j in sorted(js, key=lambda j: j["jobId"]):
        t = j.get("submissionTime", "")
        print(
            f"job {j['jobId']:4d} stages={len(j.get('stageIds', []))} "
            f"tasks={j.get('numCompletedTasks', 0):5d} {j.get('name', '')[:90]}"
        )

    ss = [s for s in stages() if s["stageId"] > mark]
    tot_exec = sum(s.get("executorRunTime", 0) for s in ss)
    print(f"\n== {len(ss)} stages in last run, exec total {tot_exec/1000:.1f}s ==")
    for s in sorted(ss, key=lambda s: -s.get("executorRunTime", 0))[:40]:
        print(
            f"stage {s['stageId']:4d} tasks={s.get('numCompleteTasks', 0):4d} "
            f"exec={s.get('executorRunTime', 0)/1000:8.2f}s "
            f"cpu={s.get('executorCpuTime', 0)/1e9:8.2f}s "
            f"in={s.get('inputBytes', 0)/1e6:8.1f}MB "
            f"shR={s.get('shuffleReadBytes', 0)/1e6:7.2f}MB "
            f"shW={s.get('shuffleWriteBytes', 0)/1e6:7.2f}MB  {s.get('name', '')[:70]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
