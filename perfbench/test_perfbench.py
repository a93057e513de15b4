"""Benchmark self-tests: seeded inputs are reproducible, and the output
checks catch a corrupted result and count it as a failed op.

    python3 -m pytest perfbench -q

No Spark session is started; the checks run against DuckDB and pandas.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
import run as bench  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    assert inputs.module_tasks(7, 12) == inputs.module_tasks(7, 12)
    assert inputs.module_tasks(7, 12) != inputs.module_tasks(8, 12)
    assert inputs.module_tasks(7, 4, warmup=True) != inputs.module_tasks(7, 4)
    assert inputs.loop_ops(7, 8) == inputs.loop_ops(7, 8)
    assert inputs.loop_ops(7, 8) != inputs.loop_ops(8, 8)

    p1, p2, p3 = (inputs.corpus_plan(s) for s in (7, 7, 8))
    assert p1.queries == p2.queries and p1.replay_day == p2.replay_day
    assert all(a.equals(b) for (_, a), (_, b) in zip(p1.days, p2.days))
    assert not all(a.equals(b) for (_, a), (_, b) in zip(p1.days, p3.days))
    assert p1.queries != p3.queries

    r1, r2, r3 = (inputs.write_ad_round(s, 0, str(tmp_path / d))
                  for s, d in ((7, "a"), (7, "b"), (9, "c")))
    assert all(a.equals(b) for a, b in zip(r1, r2))
    assert not all(a.equals(b) for a, b in zip(r1, r3))
    assert pd.read_parquet(tmp_path / "a" / "batch-0000.parquet").equals(r1[0])


def test_run_shape_does_not_depend_on_seed():
    """Seeds change which days and filters fill a run, not its mix."""
    for seed in (1, 2):
        tasks = inputs.module_tasks(seed, 8)
        assert sorted(t.kind for t in tasks[:4]) == sorted(inputs.MODULE_KINDS)
        widths = [(pd.Timestamp(t.end) - pd.Timestamp(t.start)).days + 1 for t in tasks]
        assert widths == [inputs.TASK_WIDTHS[0]] * 4 + [inputs.TASK_WIDTHS[1]] * 4


def _run():
    args = argparse.Namespace(seed=1, trace=0, seconds=1.0)
    return bench.Run(args, spark=None, dirs={}, work="", data_dir="", cycle_s=1)


def _corrupt(df: pd.DataFrame) -> pd.DataFrame:
    bad = df.copy()
    col = next(c for c in bad.columns if pd.api.types.is_numeric_dtype(bad[c]))
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    return bad


@pytest.mark.parametrize("kind", inputs.MODULE_KINDS)
def test_module_check_counts_a_corrupted_result(kind):
    con = checks.connect(inputs.DATA_DIR)
    task = next(t for t in inputs.module_tasks(3, 4) if t.kind == kind)
    want = con.execute(checks.module_oracle_sql(task)).fetchdf()
    assert len(want) > 0

    run = _run()
    for result in (want, _corrupt(want)):
        with run.op(kind) as op:
            pass
        run.check(op, checks.check_module_task, con, task, result)
    assert [o.failed for o in run.ops] == [False, True]


def test_stream_and_corpus_checks_fire(tmp_path):
    batches = inputs.write_ad_round(3, 0, str(tmp_path / "src"))
    want = checks.expected_click_totals(pd.concat(batches, ignore_index=True))
    assert checks.compare(want, want) == []
    assert checks.compare(_corrupt(want), want)

    bl = checks.expected_blacklist_totals(batches, inputs.BLACKLIST_THRESHOLD)
    assert checks.compare(_corrupt(bl), bl)

    assert checks.check_replay((10, 10), (10, 10)) == []
    assert checks.check_replay((10, 10), (12, 12))
    assert checks.check_store_index(5, 6)


def test_blacklist_replay_drops_clicks_of_listed_users():
    def clicks(user, n, day="2024-01-05"):
        return pd.DataFrame({"ts": pd.to_datetime([day] * n), "user_id": [user] * n,
                             "event_type": ["click"] * n, "props": ['{"k": 7}'] * n})

    first = pd.concat([clicks(1, 3), clicks(2, 1)])
    second = pd.concat([clicks(1, 2), clicks(2, 1)])
    got = checks.expected_blacklist_totals([first, second], threshold=3)
    # user 1 reached the threshold in the first batch: its later clicks drop
    assert dict(zip(got["user_id"], got["click_count"])) == {1: 3, 2: 2}


def test_cc_check_fires():
    want = checks.clusters_oracle(f"{inputs.DATA_DIR}/documents.parquet", "doc_id % 20 = 3")
    assert len(want) > 0  # the fixture docs hold near-duplicate clusters
    assert checks.compare(want, want) == []
    bad = want.copy()
    bad.loc[bad.index[0], "cluster_id"] = -1
    assert checks.compare(bad, want)


def test_tail_percentile():
    assert bench.tail([1.0, 3.0, 2.0]) == (3.0, 100.0, 0)
    xs = [float(i) for i in range(1, 41)]
    value, pct, beyond = bench.tail(xs)
    assert beyond == 10 and value == 30.0 and pct == 75.0
    assert sum(x > value for x in xs) == 10


def test_benchmark_json_lists_what_a_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(bench.REPORTED)
    units = dict(bench.LAYER_METRICS)
    assert all(m["unit"] == units[m["name"]] for m in spec["per_layer"])
    metrics, _ = bench.end_to_end(_run(), setup_s=1.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: u for k, (_v, u) in metrics.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(bench.WORKLOAD_NAMES)
