"""The memoized user dimension (modules.load_users): customer ⋈ nation
⋈ region is derived once per session and table version, and every
task after the first reads its checkpointed blocks."""

from __future__ import annotations

import json
import os
import re

from analysisofuserbehavior_spark import modules, plans
from analysisofuserbehavior_spark.modules import load_users, run_task
from analysisofuserbehavior_spark.operators import behavior_model as bm
from analysisofuserbehavior_spark.operators import session_analysis as sa
from analysisofuserbehavior_spark.params import TaskParams
from analysisofuserbehavior_spark.session import release_query_resources
from analysisofuserbehavior_spark.sources import load_table

TASK_JSON = json.dumps(
    {
        "startDate": ["2024-01-03"],
        "endDate": ["2024-01-28"],
        "startAge": ["10"],
        "endAge": ["55"],
        "sex": ["male"],
        "keywords": ["click,view"],
    }
)
USER_TABLES = ("customer", "nation", "region")


def _entries(root: str) -> dict:
    return {k: v for k, v in modules._USER_DIMS.items() if k[1] == os.path.abspath(root)}


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_second_task_scans_no_user_table(spark, sf_dir):
    """After one task, the next tasks' outputs read the memo: no plan
    scans customer, nation or region (area_top3_product is the output
    whose user join is not behind a module checkpoint)."""
    run_task(spark, TASK_JSON, sf_dir, modules=("area",))
    other = json.dumps({"startDate": ["2024-01-10"], "endDate": ["2024-01-20"]})
    out = run_task(spark, other, sf_dir, modules=("session", "area", "ad"))
    assert "area_top3_product" in out
    for name, df in out.items():
        plan = plans.formatted_plan(df)
        assert not re.search(r"(customer|nation|region)\.parquet", plan), name


def test_new_table_version_replaces_the_entry(spark, sf_dir, tmp_path):
    """A rewritten nation table (new mtime, new city names) derives a
    fresh dimension, and its entry replaces the old version's."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    root = str(tmp_path)
    for t in USER_TABLES:
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), os.path.join(root, f"{t}.parquet"))
    first = _rows(load_users(spark, root).select("user_id", "city"))
    (old_key, old_plan), = _entries(root).items()
    load_users(spark, root)
    assert _entries(root) == {old_key: old_plan}  # a hit derives nothing

    nation = os.path.join(root, "nation.parquet")
    table = pq.read_table(nation)
    i = table.schema.get_field_index("n_name")
    pq.write_table(table.set_column(i, "n_name", pc.utf8_lower(table["n_name"])), nation)
    st = os.stat(nation)
    os.utime(nation, (st.st_atime, st.st_mtime + 10))

    again = _rows(load_users(spark, root).select("user_id", "city"))
    (new_key, new_plan), = _entries(root).items()
    assert new_key != old_key and new_plan is not old_plan
    assert again == [(u, c.lower()) for u, c in first]
    assert any(c != c.lower() for _, c in first)


def test_release_query_resources_empties_the_memo(spark, sf_dir):
    load_users(spark, sf_dir)
    assert _entries(sf_dir)
    release_query_resources(spark)
    assert not modules._USER_DIMS


def _subtree(plan: str, node: str) -> str:
    """The lines of the first `node` in a plan tree string and of
    every node below it."""
    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :|+-"))

    lines = plan.splitlines()
    start = next(n for n, line in enumerate(lines) if line[depth(line):].startswith(node))
    out = [lines[start]]
    for line in lines[start + 1 :]:
        if depth(line) <= depth(lines[start]):
            break
        out.append(line)
    return "\n".join(out)


def test_session_rollup_keeps_the_age_and_sex_filter_below_it(spark, sf_dir):
    """The memo holds only the joined columns; age and sex stay
    expressions over user_id.  So module 1's age/sex predicate is
    still inferred across the user join onto the events side, below
    the session rollup, while the user side reads the memo."""
    params = TaskParams.from_task_json(TASK_JSON)
    filtered = sa.filter_sessions(
        sa.session_stats(modules._actions_in_range(spark, sf_dir, params)),
        load_users(spark, sf_dir),
        params,
    )
    plan = filtered._jdf.queryExecution().optimizedPlan().toString()
    rollup = _subtree(plan, "Aggregate")
    assert "parquet" in rollup and "LogicalRDD" not in rollup, rollup
    assert re.search(r"Filter .*\(user_id#\d+L % 60\) >= 10", rollup), rollup
    assert re.search(r"\(user_id#\d+L % 2\) = 0", rollup), rollup
    assert "LogicalRDD" in plan and not re.search(r"c_custkey|n_name|r_name", plan), plan


def test_load_users_equals_user_info(spark, sf_dir):
    got = load_users(spark, sf_dir)
    want = bm.user_info(*(load_table(spark, sf_dir, t) for t in USER_TABLES))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
