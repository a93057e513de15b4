"""bench.py is a driver contract: ONE JSON line with metric/value/
unit/queries/sf.  Run it at sf0.001 in a subprocess and validate the
shape — bench rot would otherwise surface only in the driver's
per-round record."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_emits_one_valid_json_line():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    committed_detail = os.path.join(repo, "BENCH_DETAIL.json")
    before = (
        open(committed_detail, "rb").read()
        if os.path.exists(committed_detail)
        else None
    )
    # a representative subset (scan+agg, join chain, sessionized
    # actions, streaming replay, text op) keeps the contract check
    # fast and immune to CPU-contention timeouts; the full list runs
    # in the per-round bench
    subset = "tpch_q1,sessionize,area_top3_products,streaming_hourly_clicks,text_stats,dedup_exact"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_QUERIES=subset,
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=480,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 1, out.stdout[-2000:]
    rec = json.loads(lines[0])
    assert rec["unit"] == "sec"
    assert rec["sf"] == 0.001
    assert isinstance(rec["value"], (int, float))
    assert set(rec["queries"]) == set(subset.split(","))
    assert all(isinstance(v, (int, float)) for v in rec["queries"].values())
    # subset runs must write their detail to the _smoke file, leaving
    # the committed full-run BENCH_DETAIL.json bit-identical (the r9
    # verdict caught the suite clobbering the round artifact)
    assert rec["detail"] == "BENCH_DETAIL_smoke.json"
    assert os.path.exists(os.path.join(repo, "BENCH_DETAIL_smoke.json"))
    after = (
        open(committed_detail, "rb").read()
        if os.path.exists(committed_detail)
        else None
    )
    assert after == before, "subset bench run clobbered BENCH_DETAIL.json"
    # round 14: the noise stamp must be on the stdout line (VERDICT
    # r10 #1 — cross-round totals are unreadable without host weather)
    assert isinstance(rec["cpu_canary_sec"], (int, float))
    assert len(rec["disk_mb_s"]) == 2 and all(v > 0 for v in rec["disk_mb_s"])
    assert len(rec["loadavg"]) == 2


def test_stdout_line_reports_truncated_anchor_set():
    """When the anchors alone overflow the 1750-char stdout line the
    trim must say how many made it (`anchors_shown`), keep the
    slowest anchors, and show no non-anchor entry at all."""
    import bench

    anchors = bench._STDOUT_ANCHORS
    timings = {n: 1000.0 + i + 0.123456 for i, n in enumerate(anchors)}
    timings.update({f"extra_query_{i}": 5000.0 + i for i in range(10)})
    line = bench._fit_stdout_line(
        {"metric": "headline_queries_total", "queries": {}}, timings
    )
    rec = json.loads(line)
    assert len(line) <= 1750
    assert 0 < rec["anchors_shown"] < len(anchors)  # anchors overflowed
    assert rec["queries_shown"] == rec["anchors_shown"] == len(rec["queries"])
    assert set(rec["queries"]) <= set(anchors)
    slowest = sorted(anchors, key=lambda n: -timings[n])
    assert list(rec["queries"]) == slowest[: rec["anchors_shown"]]
    # a roomy line shows every anchor, then the non-anchors
    rec = json.loads(
        bench._fit_stdout_line({"queries": {}}, timings, limit=10**6)
    )
    assert rec["anchors_shown"] == len(anchors)
    assert rec["queries_shown"] == len(timings)


# shuffle_write_bytes budgets for the 5 heaviest BENCH_r10 entries at
# sf0.01 / local[8] (measured this round, ×~1.5 headroom).  Shuffle
# bytes are PLAN-determined — same data, same plan, same bytes — so a
# breach means the plan got heavier, never that the host got slower
# (VERDICT r10 #4: exactly the ambiguity that burned rounds 9-10).
_SHUFFLE_BUDGETS = {
    "corpus_pipeline_incremental": 1_100_000,  # r12 measured 709_229 (ckpt removed re-derivation; was 1_549_787)
    "embedding_dedup_clusters_lsh": 2_500_000,  # r12 measured 1_762_224 (spread exchange added, double band-derivation removed)
    "streaming_click_attribution": 120_000,  # measured 61_150
    "streaming_click_attribution_outer": 120_000,  # measured 61_150
    # round 12: the adaptive input spread (functions/spread.py) adds
    # one deliberate (doc_id)-only exchange ahead of the codec so the
    # encode+decode no longer serializes on the single-row-group scan
    "image_features_jpeg": 10_000,  # measured 4_111 (spread ids only)
    # round 12 (VERDICT r11 #4): the round's new heavy entries
    "corpus_pipeline_e2e": 1_800_000,  # r12 measured 1_197_171 (was 1_415_674)
    "dedup_contained_docs": 2_400_000,  # measured 1_565_987 (slim-gram plan)
    "ann_ivfpq_topk": 280_000,  # measured 178_173
    "ann_pq_topk": 420_000,  # measured 272_049
    "quantile_normalize_by_type": 400_000,  # measured 255_750
    "orders_mv_incremental": 10_000,  # measured 1_271 (partials merge only)
}


def test_heaviest_queries_shuffle_bytes_within_budget():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.01",
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_QUERIES=",".join(_SHUFFLE_BUDGETS),
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=480,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    detail = json.load(open(os.path.join(repo, "BENCH_DETAIL_smoke.json")))
    got = detail["exec_metrics"]
    for name, budget in _SHUFFLE_BUDGETS.items():
        bytes_ = got[name]["shuffle_write_bytes"]
        assert bytes_ <= budget, (
            f"{name} shuffled {bytes_} bytes > pinned budget {budget}: "
            "the plan got heavier (host noise cannot move this number)"
        )
        # and the metrics channel itself stays alive: a dead REST
        # endpoint would zero everything and vacuously pass
        assert got[name]["input_records"] > 0
